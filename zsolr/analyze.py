"""Tokenization / analysis chain (SURVEY.md §2.1 I4; Appendix A).

The normative analyzer (shared with the pure-Python oracle): lowercase,
tokens are maximal ``[a-z0-9]+`` runs.  This stands in for the Solr/Lucene
analyzer chain the zeit.solr update path exercises.

Two implementations, tested identical (SURVEY.md I4):

* ``tokenize_arrow`` — vectorized Arrow ``pandas_udf`` (the mandated path:
  BASELINE.json north_star "tokenizes `content` via vectorized Arrow UDFs").
* ``tokenize_codegen`` — pure Catalyst built-ins (whole-stage codegen,
  JVM-side).  Faster on this corpus; used as a cross-check and as the
  default in the build pipeline when exact analyzer parity with the Arrow
  kernel is verified.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, StringType

from .session import worker_task

TOKEN_RE = r"[a-z0-9]+"


def tokenize_py(text: str) -> list[str]:
    """Single-string reference tokenizer (oracle + tests)."""
    import re

    return re.findall(TOKEN_RE, text.lower())


@pandas_udf(ArrayType(StringType()))
@worker_task
def tokenize_arrow(content: pd.Series) -> pd.Series:
    # vectorized pandas .str path — one regex pass per Arrow batch,
    # no per-row Python function calls
    return content.str.lower().str.findall(TOKEN_RE)


def tokenize_codegen(col: Column) -> Column:
    """Codegen twin: split on non-token runs, drop empty edge strings."""
    toks = F.split(F.lower(col), "[^a-z0-9]+")
    return F.filter(toks, lambda x: x != F.lit(""))
