"""Canonical tokenizer — the engine's analog of the reference's
signal→fingerprint front end.

Reference parity: the reference turns a decoded waveform into
combinatorial landmark hashes (``utils/_Shazam_.py:67-77``:
``wav2LPS`` → ``peak_local_max`` → ``hashPeaks``); the "term" of its
inverted index is the int32 landmark hash and the "position" is the
anchor time (``utils/_Shazam_.py:242-280``). Our engine's terms are
source-code tokens and positions are token offsets. Determinism is a
hard contract (the reference relies on unsalted int-tuple ``hash()``,
``utils/_Shazam_.py:258-261``) — so ONE rule, shared verbatim by:

- the JVM-side Spark expression (``tokens_col`` — the hot path),
- the vectorized pandas UDF (``tokenize_udf`` — per input_hint),
- the single-node pandas oracle (``tokenize_py``),
- the DuckDB oracle SQL (``DUCKDB_TOKENS_SQL``).

Rule: lowercase, then maximal runs of ``[a-z0-9]``; everything else is
a separator; empty tokens dropped. Positions are 0-based offsets into
the resulting token list.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

# one regex, three dialects
SPLIT_PATTERN = "[^a-z0-9]+"
_FINDALL_RE = re.compile("[a-z0-9]+")

# DuckDB fragment: tokens of column {col}, empty-run artifacts removed.
DUCKDB_TOKENS_SQL = (
    "list_filter(regexp_split_to_array(lower({col}), '[^a-z0-9]+'), t -> t <> '')"
)


def tokenize_py(text: str | None) -> list[str]:
    """Pure-Python tokenizer (oracle + tests)."""
    if text is None:
        return []
    return _FINDALL_RE.findall(text.lower())


def tokens_col(col: Column | str) -> Column:
    """JVM-side tokens array — whole-stage-codegen'd, no Python.

    This is the hot path for the 100 TB index build: split+filter run
    inside Tungsten; no Arrow crossing at all.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(F.lower(c), SPLIT_PATTERN), lambda t: t != F.lit(""))


@F.pandas_udf(T.ArrayType(T.StringType()))
def tokenize_udf(texts: pd.Series) -> pd.Series:
    """Arrow-batched tokenizer (input_hint: vectorized pandas UDF).

    Functionally identical to ``tokens_col``; exists because the
    input_hint mandates the tokenize step be expressible as a pandas
    UDF (the slot where a real deployment plugs a BPE/tree-sitter
    tokenizer that has no JVM expression).
    """
    return texts.map(tokenize_py)
