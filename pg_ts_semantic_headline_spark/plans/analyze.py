"""Distributed document analysis stage.

Turns raw content into the two position-aligned columns the engine runs on:

- tokens  array<string>  — accent-preserving recall vector (content_arr
  analog, /root/reference/sql/to_tsp_text_array.sql:8-16)
- lexemes array<string>  — unaccented lexized stream with nulls holding
  stopword positions (content_tsv analog, /root/reference/sql/to_tspvector.sql:19-27)

One vectorized Arrow UDF does unaccent → canonicalize → split → lexize for a
whole batch; no per-row Python anywhere in the distributed path. The UDF is
keyed by a per-row `config` column so multi-language corpora analyze in one
pass (the reference's REGCONFIG argument becomes a column).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (ArrayType, IntegerType, StringType,
                               StructField, StructType)

from ..functions.lexize import analyze_document, is_supported_config

ANALYSIS_SCHEMA = StructType([
    StructField("tokens", ArrayType(StringType()), True),
    StructField("lexemes", ArrayType(StringType()), True),
])


def analysis_config(cfg: str) -> str:
    """The config a document is analyzed under: an unsupported one falls
    back to `simple`."""
    return cfg if is_supported_config(cfg) else "simple"


def _analyze_rows(content: pd.Series, config: pd.Series):
    """(tokens, lexemes) per row, (None, None) for null content."""
    for text, cfg in zip(content, config):
        yield ((None, None) if text is None
               else analyze_document(text, analysis_config(cfg)))


def _analyze_batch(content: pd.Series, config: pd.Series) -> pd.DataFrame:
    rows = list(_analyze_rows(content, config))
    return pd.DataFrame({"tokens": [t for t, _ in rows],
                         "lexemes": [lx for _, lx in rows]})


analyze_udf = F.pandas_udf(_analyze_batch, returnType=ANALYSIS_SCHEMA)

DOC_POSTINGS_SCHEMA = ArrayType(StructType([
    StructField("term", StringType(), False),
    StructField("tf", IntegerType(), False),
    StructField("positions", ArrayType(IntegerType()), False),
]))

INDEX_ANALYSIS_SCHEMA = StructType([
    StructField("tokens", ArrayType(StringType()), True),
    StructField("dl", IntegerType(), True),
    StructField("postings", DOC_POSTINGS_SCHEMA, True),
])


def _analyze_index_batch(content: pd.Series, config: pd.Series) -> pd.DataFrame:
    """Single-pass index analysis: tokens + doc length + doc-local postings
    in ONE Arrow roundtrip, from `_analyze_batch`'s rows. The lexeme
    stream never crosses the Python↔JVM boundary — only its aggregate
    (the per-doc postings) does, which halves the UDF traffic of the
    build's hottest stage."""
    toks_out, dl_out, post_out = [], [], []
    for toks, lexs in _analyze_rows(content, config):
        toks_out.append(toks)
        if lexs is None:
            dl_out.append(None)
            post_out.append(None)
            continue
        d: dict = {}
        for i, lx in enumerate(lexs):
            if lx is not None:
                d.setdefault(lx, []).append(i + 1)
        dl_out.append(len(lexs) - lexs.count(None))
        post_out.append([{"term": t, "tf": len(ps), "positions": ps}
                         for t, ps in d.items()])
    return pd.DataFrame(
        {"tokens": toks_out, "dl": dl_out, "postings": post_out})


analyze_index_udf = F.pandas_udf(_analyze_index_batch,
                                 returnType=INDEX_ANALYSIS_SCHEMA)


def with_analysis(
    df: DataFrame,
    content_col: str = "content",
    config: str | Column = "english",
    out_prefix: str = "",
) -> DataFrame:
    """Add `tokens` and `lexemes` columns (the index-build tokenize stage)."""
    cfg_col = F.lit(config) if isinstance(config, str) else config
    struct = analyze_udf(F.col(content_col), cfg_col)
    tok, lex = f"{out_prefix}tokens", f"{out_prefix}lexemes"
    return (df.withColumn("_a", struct)
              .withColumn(tok, F.col("_a.tokens"))
              .withColumn(lex, F.col("_a.lexemes"))
              .drop("_a"))
