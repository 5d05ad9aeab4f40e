"""Span tagging: non-destructive document attributes with offsets.

No Snow analog — training-data-pipeline capability: Dolma-style
pipelines never mutate text in place; taggers emit ATTRIBUTES — char
spans ``(start, end, tag)`` stored alongside the immutable corpus —
and downstream consumers decide per-use whether to redact, drop or
keep (the same PII span may be redacted for pretraining but kept for
an extraction eval).  Compare `text.scrub_pii`, which is the
destructive one-shot form.

- :func:`tag_spans` — run a dict of regex taggers over a text column,
  one Arrow pandas-UDF pass, emitting a sorted
  ``array<struct<start,end,tag>>`` per document (empty array for
  clean documents, null for null text).
- :func:`explode_spans` — the attribute-table view: one row per span.
- :func:`redact_spans` — apply stored spans back onto the text
  (replacing each with ``<TAG>``), right-to-left so earlier offsets
  stay valid; the non-destructive pipeline's materialization step.

Scale: tagging is map-only (no shuffle) and the span structs are tiny
relative to text; the attribute table joins back to the corpus on the
document key, co-partitioned like any other column family.
"""

from __future__ import annotations

import re
from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Default taggers — deliberately aligned with text.scrub_pii's
#: categories so redact_spans(tag_spans(df)) and scrub_pii agree on
#: what counts as PII.
DEFAULT_TAGGERS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b(?:\d{1,3}\.){3}\d{1,3}\b",
    "phone": r"\+?\d[\d\s().-]{7,}\d",
}

SPANS_TYPE = "array<struct<start:int,end:int,tag:string>>"


def tag_spans_udf(taggers: dict[str, str] | None = None):
    """Vectorized tagger: text → sorted span structs (start, end,
    tag), matches found per tagger with ``re.finditer``; overlapping
    matches from different taggers are all kept — consumers filter."""
    taggers = DEFAULT_TAGGERS if taggers is None else taggers
    compiled = [(tag, re.compile(rx)) for tag, rx in sorted(taggers.items())]

    from pyspark.sql.functions import pandas_udf

    @pandas_udf(SPANS_TYPE)
    def tag(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        def one(t):
            if t is None:
                return None
            spans = []
            for tag_name, rx in compiled:
                for m in rx.finditer(t):
                    spans.append(
                        {"start": m.start(), "end": m.end(), "tag": tag_name}
                    )
            spans.sort(key=lambda s: (s["start"], s["end"], s["tag"]))
            return spans

        for s in batches:
            yield s.map(one)

    return tag


def tag_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    taggers: dict[str, str] | None = None,
    out_col: str = "spans",
) -> DataFrame:
    """The attribute frame: input rows plus ``out_col`` spans."""
    return df.withColumn(out_col, tag_spans_udf(taggers)(F.col(text_col)))


def explode_spans(
    tagged: DataFrame, id_col: str, spans_col: str = "spans"
) -> DataFrame:
    """Attribute-table view: ``(id, start, end, tag)`` one row per
    span (clean/null documents contribute no rows)."""
    return tagged.select(
        F.col(id_col), F.explode(F.col(spans_col)).alias("_s")
    ).select(
        id_col,
        F.col("_s.start").alias("start"),
        F.col("_s.end").alias("end"),
        F.col("_s.tag").alias("tag"),
    )


def redact_spans(
    df: DataFrame,
    text_col: str,
    spans_col: str = "spans",
    out_col: str | None = None,
) -> DataFrame:
    """Materialize redaction from stored spans: each span replaced by
    ``<TAG>`` (uppercased).  Overlapping or nested spans are MERGED
    into one maximal interval first (tag of the earliest-starting,
    then longest, member) and the merged intervals are replaced
    right-to-left — so a span nested inside a longer one can never
    leave the enclosing span's tail unredacted.  Null spans pass text
    through unchanged."""
    out_col = out_col or text_col

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def apply(it: Iterator[tuple[pd.Series, pd.Series]]) -> Iterator[pd.Series]:
        def one(t, spans):
            if t is None or spans is None:
                return t
            clipped = [
                (int(s["start"]), min(int(s["end"]), len(t)), s["tag"])
                for s in spans
                if int(s["start"]) < min(int(s["end"]), len(t))
            ]
            merged: list[list] = []
            for start, end, tag in sorted(
                clipped, key=lambda s: (s[0], -s[1])
            ):
                if merged and start < merged[-1][1]:
                    merged[-1][1] = max(merged[-1][1], end)
                else:
                    merged.append([start, end, tag])
            out = t
            for start, end, tag in reversed(merged):
                out = out[:start] + f"<{tag.upper()}>" + out[end:]
            return out

        for texts, spans in it:
            yield pd.Series(
                [one(t, sp) for t, sp in zip(texts, spans)], dtype="object"
            )

    return df.withColumn(out_col, apply(F.col(text_col), F.col(spans_col)))
