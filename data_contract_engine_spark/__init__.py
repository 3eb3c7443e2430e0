"""PySpark-native data-contract validation + large-scale pipeline engine.

A from-scratch Spark rebuild of the capabilities of
pogoPotato/data-contract-engine (see /root/repo/SURVEY.md): declarative
YAML contracts compile to vectorized Column expressions evaluated in one
fused pass; dataset quality rules run as single-pass aggregations, salted
hash-aggregates, broadcast anti-joins and snapshot-histogram drift scoring.
"""

from .contracts.model import Contract, FieldDef, QualityRules
from .contracts.parser import (
    contract_from_dict,
    parse_contract_yaml,
    serialize_contract_yaml,
)
from .compiler.expressions import CompileOptions, compile_contract
from .engine import BatchReport, ContractEngine, ValidationRun
from .session import build_session

__all__ = [
    "Contract",
    "FieldDef",
    "QualityRules",
    "contract_from_dict",
    "parse_contract_yaml",
    "serialize_contract_yaml",
    "CompileOptions",
    "compile_contract",
    "ContractEngine",
    "ValidationRun",
    "BatchReport",
    "build_session",
]

__version__ = "0.1.0"
