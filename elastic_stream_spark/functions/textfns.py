"""Text column functions — all JVM-side built-ins (no Python UDFs).

Every function here stays inside whole-stage codegen; at 100 TB the text
pipeline is scan → higher-order array expressions → shuffle only at the
aggregation/join that consumes the result.

Cross-engine determinism contract: each function has an exact DuckDB SQL
equivalent (used by the oracle strings in the operator modules) — ASCII
lowercase, single-space tokenization, lexicographic array sort, md5 hex.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Shared modular-fingerprint term modulus (manifest_diff,
# stream_pipeline_replay, epoch_sample, …): md5-derived 60-bit doc terms
# are folded mod a prime so the per-group SUM stays < 2^63 up to ~9e9
# rows per group in BOTH engines (Spark sums BIGINT with wraparound,
# DuckDB in HUGEINT — the mod keeps them in the common exact range).
# Order-insensitive, O(1) reducer state.  ONE definition — operator
# modules must import it, never re-type the literal, so an edit here
# can never desynchronize the fingerprint convention.
FP_TERM_MOD = 1_000_000_007


def tokens(text: Column | str) -> Column:
    """Whitespace tokens of lowercased text.
    DuckDB: ``string_split(lower(text), ' ')``."""
    return F.split(F.lower(text), " ")


def distinct_tokens(text: Column | str) -> Column:
    """DuckDB: ``list_distinct(string_split(lower(text), ' '))`` —
    note list_distinct does not preserve order, so only use under
    set-semantics (sorted or exploded-distinct)."""
    return F.array_distinct(tokens(text))


def shingles(text: Column | str, n: int = 3) -> Column:
    """Word n-gram shingles (distinct), built with higher-order functions.
    Documents with fewer than ``n`` tokens yield an empty array (guarded —
    an unguarded ``sequence(0, size-n)`` throws on a descending range).
    DuckDB: ``list_distinct(list_transform(generate_series(1, len(t)-n+1),
    i -> array_to_string(t[i:i+n-1], ' ')))`` under ``WHERE len(t) >= n``."""
    t = tokens(text)
    idx = F.sequence(F.lit(0), F.size(t) - n)  # 0-based start positions
    return F.when(
        F.size(t) >= n,
        F.array_distinct(
            F.transform(idx, lambda i: F.concat_ws(" ", F.slice(t, i + 1, n)))
        ),
    ).otherwise(F.array().cast("array<string>"))


def bow_fingerprint(text: Column | str) -> Column:
    """Bag-of-words document fingerprint: md5 of the sorted distinct token
    set — the exact-dedup key that collapses token permutations.
    DuckDB: ``md5(array_to_string(list_sort(list_distinct(
    string_split(lower(text),' '))), ' '))``."""
    return F.md5(F.concat_ws(" ", F.sort_array(distinct_tokens(text))))
