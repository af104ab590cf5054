"""Arrow-vectorized scalar pandas UDF (§2.2 UDF surface).

The engine's rule is built-ins first — every core operator is pure
Catalyst — but Unicode normalization has no Spark builtin, so
``normalize_unicode`` moves text JVM→Python in Arrow columnar batches
(~10-100x the throughput of row-at-a-time Python UDFs) and normalizes
inside the batch.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf


# pandas_udf registration needs a live SparkSession, so the udf objects
# are built on first use (import of this module must stay session-free).
_CACHE: dict[str, object] = {}


def normalize_unicode(
    col: Column | str, form: str = "NFKC", strip_accents: bool = False
) -> Column:
    """Unicode-normalize a text column (NFC/NFKC/NFD/NFKD) and
    optionally strip accents (NFKD → drop combining marks) — the
    pre-tokenization cleanup multilingual/web corpora need before the
    engine's ASCII tokenizer: full-width forms fold to ASCII
    (ＡＢＣ→ABC under NFKC), composed/decomposed accents unify, and with
    ``strip_accents`` 'café'→'cafe' so accented words survive
    ``clean_text``'s ``[^a-zA-Z ]`` cut instead of splitting.

    Arrow-batched scalar pandas UDF (no Spark builtin performs Unicode
    normalization); accent-strip behavior matches DuckDB's
    ``strip_accents`` on combining-mark accents (cross-engine pinned in
    tests — base letters without decompositions, like 'ø', pass through
    in BOTH engines). NULLs pass through."""
    key = f"normalize_unicode:{form}:{strip_accents}"
    if key not in _CACHE:
        import unicodedata

        @pandas_udf("string")
        def _norm(s: pd.Series) -> pd.Series:
            def one(t):
                if t is None:
                    return None
                out = unicodedata.normalize(form, t)
                if strip_accents:
                    # decompose at the caller's canonicality: NFD for
                    # canonical forms (full-width etc. untouched — the
                    # DuckDB strip_accents behavior), NFKD only when the
                    # caller already asked for compatibility folding
                    decomp = "NFD" if form in ("NFC", "NFD") else "NFKD"
                    out = "".join(
                        ch
                        for ch in unicodedata.normalize(decomp, out)
                        if not unicodedata.combining(ch)
                    )
                    # re-normalize to the CALLER'S form: stripping marks
                    # can leave sequences the form would have (de)composed
                    # differently — NFD callers must get NFD output
                    # (e.g. Hangul Jamo survive the mark strip and would
                    # otherwise recompose)
                    out = unicodedata.normalize(form, out)
                return out

            return s.map(one)

        _CACHE[key] = _norm
    return _CACHE[key](F.col(col) if isinstance(col, str) else col)
