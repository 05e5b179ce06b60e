"""Engine column-function API — the reusable, composable Column helpers.

Mirrors the role of ``pyspark.sql.functions`` for engine-specific
semantics: everything here takes/returns ``Column`` (or is a thin Pandas
UDF wrapper) and can be dropped into any DataFrame expression.  The
implementations live next to their operators; this module is the stable
import surface:

    from trafsys_data_transfer_spark.functions import cosine, fingerprint

Text / hashing::

    normalize_text(col)      canonical lowercase/collapsed-whitespace form
    fingerprint(col)         md5 content fingerprint of normalized text
    shingles(tokens, n)      distinct word n-gram shingles
    jaccard(a, b)            exact Jaccard similarity of two array sets
    minhash_signature(sh)    k-wide MinHash signature (Arrow-vectorized)
    simhash(tokens)          60-bit SimHash (Arrow-vectorized)

Both hash with ``portable_hash60`` (md5-derived), so DuckDB recomputes
the same signatures.

Vectors::

    dot(a, b) / norm(a) / cosine(a, b)   deterministic sequential-sum math
    as_double(a)                         array<float> → array<double>
    lsh_buckets(vec)                     random-hyperplane LSH bucket ids
    sq8_quantize(vec)                    symmetric int8 scalar quantization
    int_dot(a, b)                        exact int64 inner product

PII / media (round 5)::

    pii_redact(col)                      email/IP/phone redaction (codegen)
    decode_media(bytes, media_type)      real WAV/PNG parse (driver/UDF side)
"""

from ..operators.dedup import (
    fingerprint,
    jaccard,
    minhash_signature,
    normalize_text,
    shingles,
    simhash,
)
from ..operators.multimodal import decode_media
from ..operators.pii import redact as pii_redact
from ..operators.similarity import (
    as_double,
    cosine,
    dot,
    int_dot,
    lsh_buckets,
    norm,
    sq8_quantize,
)

__all__ = [
    "as_double",
    "cosine",
    "decode_media",
    "dot",
    "fingerprint",
    "int_dot",
    "jaccard",
    "lsh_buckets",
    "minhash_signature",
    "norm",
    "normalize_text",
    "pii_redact",
    "shingles",
    "simhash",
    "sq8_quantize",
]
