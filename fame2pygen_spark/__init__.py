"""fame2pygen_spark — a PySpark-native FAME time-series analytics engine.

A clean-room, Spark-first re-implementation of the query semantics of
``botlhale/Fame2PyGen`` (a FAME→Polars transpiler): FAME script in,
Catalyst-optimized DataFrame transformation out — plus large-scale
data-pipeline operators (dedup, similarity search, text analysis,
multimodal columns) the reference does not have.

Public API::

    from fame2pygen_spark import FameEngine, run_script, parse_script

    result = run_script(df, [
        "freq m",
        "v_base = 100",
        "growth = pct(revenue)",
        "flag = if growth gt 5 then 1 else 0",
    ])
    result.df          # transformed wide DataFrame
    result.scalars     # scalar values, read with one Spark job on first access
    result.local_databases
"""

from .codegen import (
    generate_formulas_file, generate_spark_functions, generate_test_script,
    parse_fame_formula,
)
from .engine import FameEngine, FameResult, run_script
from .parser.expressions import column_name, parse_expression
from .parser.grammar import FameScriptError, parse_script, parse_statement

__all__ = [
    "FameEngine",
    "FameResult",
    "FameScriptError",
    "column_name",
    "generate_formulas_file",
    "generate_spark_functions",
    "generate_test_script",
    "parse_expression",
    "parse_fame_formula",
    "parse_script",
    "parse_statement",
    "run_script",
]

__version__ = "0.1.0"
