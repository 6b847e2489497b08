"""Arrow-batched Python operators (§2.8 UDF/UDAF/UDTF surface).

These are the *sanctioned* Python paths: grouped ``applyInPandas``
(UDAF-shaped), ``mapInPandas`` (UDTF-shaped, through the schema-typed
``rowmap.map_rows``). Both stream Arrow batches —
no row-at-a-time pickling. Used only where the computation is genuinely
easier in Python; every numeric result is made partitioning-independent
(fixed-point integer accumulation) so the operators stay oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..rowmap import map_rows

CENTROID_SCHEMA = "label int, dim int, mean_val double"


def label_centroids(emb: DataFrame, round_digits: int = 6) -> DataFrame:
    """Per-label embedding centroid via grouped ``applyInPandas``.

    Accumulates in fixed-point int64 (values rounded to ``round_digits``
    first), so the per-dimension mean is exact and independent of row
    order/partitioning — the same number a sequential oracle computes.
    Output: one row per (label, dimension).
    """
    import pandas as pd

    def _centroid(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        label = int(pdf["label"].iloc[0])
        # NULL embeddings contribute nothing — the same semantics as
        # the SQL oracle's unnest, which emits no rows for a NULL
        # array (r13 null sweep: np.stack crashed on None)
        pdf = pdf[pdf["embedding"].notna()]
        if not len(pdf):
            return pd.DataFrame(columns=["label", "dim", "mean_val"])
        mat = np.stack(pdf["embedding"].to_numpy())  # (n, d) float
        scaled = np.rint(
            np.round(mat.astype("float64"), round_digits) * 10**round_digits
        ).astype("int64")
        sums = scaled.sum(axis=0)  # exact int64 sums
        # single IEEE division of exact integers: bit-deterministic (an
        # explicit round here would hit half-even vs half-away ties on
        # values that are exact decimals)
        mean = sums / (10**round_digits * len(pdf))
        return pd.DataFrame(
            {
                "label": label,
                "dim": np.arange(1, mat.shape[1] + 1),
                "mean_val": mean,
            }
        )

    return emb.select("label", "embedding").groupBy("label").applyInPandas(
        _centroid, schema=CENTROID_SCHEMA
    )


TOKENIZE_SCHEMA = "doc_id long, token string, position int"


def tokenize_docs(docs: DataFrame) -> DataFrame:
    """Row-expanding tokenizer through ``rowmap.map_rows`` (UDTF shape):
    one output row per (doc, token, position). Mirrors the pure-SQL
    explode(split(...)) so the Python path is differentially testable."""

    def _tok(r):
        for pos, tok in enumerate((r["text"] or "").split(), 1):
            yield r["doc_id"], tok, pos

    return map_rows(docs.select("doc_id", "text"), _tok, TOKENIZE_SCHEMA)


__all__ = ["label_centroids", "tokenize_docs"]
