"""Stable event-identity hashing (reference P12).

The reference is internally inconsistent: the full load uses Python
`abs(hash(time+lat+lon))` (`Full Load Scripts/ods_full_load2.py:112`),
which is PYTHONHASHSEED-dependent and therefore non-deterministic
across runs; the delta load uses a 63-bit slice of SHA-1 over
`f"{time}_{lat}_{lon}"` (`Delta Load Scripts/ods_delta_load2.py:21-24`).

This engine standardizes on one deterministic form everywhere
(SURVEY.md §7 "Event-id hashing"): a 60-bit positive integer from the
first 15 hex chars of md5 over the '_'-joined key columns. md5 instead
of sha1 is an intentional divergence so the DuckDB correctness oracle
(which ships no sha1) can reproduce ids bit-for-bit; the shape
(hash -> hex slice -> int64) is the delta-load's scheme.

For pure intra-Spark work where cross-engine reproducibility is not
needed, `fast_event_id` gives the same stability guarantees at much
lower cost via xxhash64 (one JVM intrinsic vs md5 + string slicing) —
at 100 TB the id hash runs per ingested row, so this matters.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def stable_event_id(*key_cols: Column | str) -> Column:
    """60-bit deterministic id: cast(conv(substr(md5(k1_k2_...),1,15),16,10) as long)."""
    cols = [F.col(c) if isinstance(c, str) else c for c in key_cols]
    joined = F.concat_ws("_", *[c.cast("string") for c in cols])
    return F.conv(F.substring(F.md5(joined), 1, 15), 16, 10).cast("long")


def fast_event_id(*key_cols: Column | str) -> Column:
    """xxhash64 id, non-negative; Spark-internal fast path."""
    cols = [F.col(c) if isinstance(c, str) else c for c in key_cols]
    return F.abs(F.xxhash64(*cols))


def stable_event_id_sha1(*key_cols: Column | str) -> Column:
    """The reference's delta-load id, bit-exact (`Delta Load
    Scripts/ods_delta_load2.py:21-24`): 63-bit slice of SHA-1 over the
    '_'-joined key columns —
    `int(sha1(f"{t}_{lat}_{lon}").hexdigest()[:16], 16) & 0x7FF...F`.

    Offered for byte-parity with ids minted by the reference (e.g.
    when merging into a table it populated); new pipelines should use
    `stable_event_id` (md5-60-bit), the engine standard, which the
    DuckDB oracle can replay.

    Parity scope: the reference hashes PYTHON f-string renderings of
    its key values, while this column hashes Spark's cast-to-string.
    The two renderings agree for strings and integers but NOT for all
    doubles (Java's Double.toString emits '1.0E-4' where Python str()
    emits '0.0001'), so bit-parity with reference-minted ids holds
    only when the key columns are string-typed (the reference's own
    case — its CSV stage stringifies everything before hashing, see
    P5) or pre-formatted with format_string/format_number to the
    exact Python rendering. Hashing raw float lat/lon columns through
    this function can silently mint ids the reference never would.

    The &-mask keeps the low 63 bits, i.e.
    `x mod 2^63`, computed in decimal because the 16-hex-char slice is
    64 bits and would overflow a signed long before masking."""
    cols = [F.col(c) if isinstance(c, str) else c for c in key_cols]
    joined = F.concat_ws("_", *[c.cast("string") for c in cols])
    v = F.conv(F.substring(F.sha1(joined), 1, 16), 16, 10).cast(
        "decimal(20,0)"
    )
    two63 = F.lit("9223372036854775808").cast("decimal(20,0)")  # 2^63
    return F.pmod(v, two63).cast("long")
