"""Gate-registry invariants: the driver records correctness rows for the
first 50 registry entries only, so the order is load-bearing.

Round-14 policy (operators/__init__.py GATE_ORDER): the registry
(``len(GATE_ORDER)`` queries — 150, saturated since r13: the 50-slot
window / ≤3-round staleness arithmetic leaves 0 free slots) ALTERNATES
over exactly 3 rounds — a query may sit beyond the window only if it
was hash-green in a prior driver window (r12 or r13); changed /
never-checked queries always occupy a slot; the 50 queries whose last
driver row was r11 take ALL 50 policy-deadline slots this round
(staleness ≤ 3 rounds), so r14 has no free slot and no NEW entries.
Every query is additionally re-verified each round by the committed
strict full-registry self-check at both sf.

Every operator module is in ``_modules()`` and named for its family,
never for the round that wrote it (the last test pins both).

Refactor convention (FP_TERM_MOD precedent, r10): code touches that
provably change neither the plan nor the output on the gate fixtures do
NOT preempt window slots; the full self-check covers them.  No r14 code
touch changes a registered query's plan or output (the KV paging /
migration / canary work is off-gate), so r14 has no CHANGED re-entries.
"""

from __future__ import annotations

import json
import os
import re

from elastic_stream_spark.operators import (
    GATE_ORDER,
    _modules,
    all_oracles,
    all_queries,
)

# New in round 14 — none: the registry is saturated (zero free slots).
NEW_R14: set[str] = set()

# Changed in round 14 — none: that round's KV storage-format work
# (since removed with the ordered layout) was internal to the store
# (kv_range_scan builds its store fresh per run), and the bench canary
# is off-gate.
CHANGED_R14: set[str] = set()

# The 50 queries whose last driver row is CORRECTNESS_r11 (they sat out
# r12 and r13): round 14 is the ≤3-round staleness policy's deadline, so
# ALL of them must occupy window slots this round.
STALE_R11 = {
    "pack_fragmentation_audit",
    "curriculum_mix_allocation",
    "epoch_coverage",
    "corpus_split_by_source",
    "dedup_survivorship",
    "approx_quantile_audit",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_containment",
    "neardup_lookup",
    "neardup_lookup_served",
    "event_gaps_lag",
    "event_funnel",
    "key_skew_audit",
    "column_profile",
    "winsorized_event_stats",
    "daily_anomaly_zscore",
    "source_distinctive_tokens",
    "vocab_coverage",
    "source_ngram_overlap",
    "text_token_stats",
    "pipeline_sample_mix",
    "text_repetition",
    "mix_temperature_weights",
    "pipeline_curation_verdict",
    "source_cap_sample",
    "emb_random_project",
    "corpus_split_shards",
    "quality_buckets",
    "emb_quantize_int8",
    "bm25_search",
    "bigram_pmi",
    "stream_join_replay",
    "split_leakage_check",
    "emb_norm_outliers",
    "window_unique_users",
    "retention_cohorts",
    "hybrid_rrf_search",
    "filtered_vector_search",
    "ts_gapfill_locf",
    "rolling_revenue_7d",
    "event_transitions",
    "fuzzy_name_match",
    "rfm_segments",
    "scd2_user_history",
    "pit_feature_join",
    "jsonl_roundtrip_audit",
    "dedup_embedding_lsh",
    "dedup_clusters",
    "q1_pricing_summary",
}


def _load(artifact: str) -> dict:
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(here, artifact)) as f:
        return json.load(f)


def _greens(artifact: str) -> set[str]:
    """Queries hash-green in a committed driver artifact."""
    return {n for n, row in _load(artifact).items() if row.get("hash_match")}


def test_registry_matches_gate_order():
    qs = all_queries()
    assert list(qs) == GATE_ORDER
    assert len(qs) == len(set(qs))


def test_new_changed_and_deadline_queries_inside_window():
    names = list(all_queries())
    window = set(names[:50])
    assert NEW_R14 <= window
    assert CHANGED_R14 <= window
    assert STALE_R11 <= window, (
        "r14 is the rotation policy's ≤3-round staleness deadline for the "
        f"r11-row queries; missing: {STALE_R11 - window}"
    )


def test_window_fills_remaining_slots_with_stalest_rows():
    """Alternation: after new/deadline queries claim their slots, every
    remaining window slot goes to a query whose last driver row is r11 —
    never to an r12/r13-green query while an r11-row query waits.  (In
    r14 the deadline class claims all 50 slots, so fillers must be
    empty.)"""
    names = list(all_queries())
    window = names[:50]
    fresh = set(_load("CORRECTNESS_r12.json")) | set(_load("CORRECTNESS_r13.json"))
    fillers = [n for n in window if n not in NEW_R14 | CHANGED_R14 | STALE_R11]
    in_fresh = [n for n in fillers if n in fresh]
    assert not in_fresh, (
        f"window fillers that already have fresh r12/r13 rows: {in_fresh}"
    )


def test_beyond_window_queries_were_green_in_a_prior_window():
    """A query may sit beyond the window only if it carries a hash-green
    row from a prior driver window (r12 or r13 — the alternation cycle is
    exactly 3 rounds at the saturated registry size)."""
    names = list(all_queries())
    beyond = names[50:]
    green = _greens("CORRECTNESS_r12.json") | _greens("CORRECTNESS_r13.json")
    stragglers = [n for n in beyond if n not in green]
    assert not stragglers, (
        f"beyond-window queries without a prior green driver row: {stragglers}"
    )


def test_no_registry_query_older_than_three_rounds():
    """The staleness invariant itself: with the r14 window as planned, no
    registry query's most recent driver row may predate r12 (checked
    against the union of all committed driver artifacts, excluding the
    current window which gets fresh r14 rows)."""
    last: dict[str, int] = {}
    for r in range(1, 14):
        art = f"CORRECTNESS_r{r:02d}.json"
        try:
            rows = _load(art)
        except FileNotFoundError:
            continue
        for n in rows:
            last[n] = r
    names = list(all_queries())
    beyond = names[50:]
    too_old = [n for n in beyond if last.get(n, 0) < 12]
    assert not too_old, f"beyond-window queries with pre-r12 rows: {too_old}"


def test_every_query_has_an_oracle():
    """Since r6 every registry entry is hash-checkable (sim_ann_ivf —
    the former only rows-only row — probes every cell and carries the
    exact top-k oracle; the r7 serving form shares sim_ann_ivf_pq's)."""
    qs = all_queries()
    oracles = all_oracles()
    no_oracle = {n for n in qs if n not in oracles}
    assert no_oracle == set()


def test_only_the_session_memo_reads_session_identity():
    """Session-bound state is memoized through ``SessionMemo`` alone: a
    module that reads ``applicationId`` or ``sessionUUID`` itself is a
    hand-rolled memo, with its own key, purge and release to get wrong."""
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pkg = os.path.join(here, "elastic_stream_spark")
    allowed = os.path.join(pkg, "functions", "materialize.py")
    readers = []
    for root, _, files in os.walk(pkg):
        for fn in files:
            path = os.path.join(root, fn)
            if not fn.endswith(".py") or path == allowed:
                continue
            with open(path, encoding="utf-8") as f:
                src = f.read()
            if "applicationId" in src or "sessionUUID" in src:
                readers.append(os.path.relpath(path, here))
    assert not readers, f"modules reading session identity: {readers}"


def test_only_the_log_spells_out_the_record_layout():
    """The ``records/stream_id=<sid>/range_index=<i>`` path layout is
    built and parsed by ``log.py``'s layout functions alone; a module that
    spells it out itself is a second copy to keep in step."""
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    owner = os.path.join(here, "elastic_stream_spark", "log.py")
    spellings = ("stream_id={", "range_index={", "range_index=*", '"stream_id="')
    copies = []
    for top in ("elastic_stream_spark", "tests", "tools"):
        for root, dirs, files in os.walk(os.path.join(here, top)):
            dirs[:] = [d for d in dirs if d != "__pycache__"]
            for fn in files:
                path = os.path.join(root, fn)
                if not fn.endswith(".py") or path in (owner, os.path.abspath(__file__)):
                    continue
                with open(path, encoding="utf-8") as f:
                    src = f.read()
                if any(s in src for s in spellings):
                    copies.append(os.path.relpath(path, here))
    assert not copies, f"modules spelling out the record layout: {copies}"


def test_only_the_log_writes_and_scans_record_files():
    """Record files are written by ``log.py`` alone, and no other module
    opens parquet with pyarrow: the streaming source reads through the
    log's scan and the objects view is the log's footer index.  A second
    writer, reader or footer parser is a second copy of the file format
    (or of the index of data files) to keep in step."""
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pkg = os.path.join(here, "elastic_stream_spark")
    owner = os.path.join(pkg, "log.py")
    opens_parquet = re.compile(
        r"pyarrow\.(?:parquet|dataset)\b|from pyarrow import [^\n]*\b(?:parquet|dataset)\b"
    )
    writers, readers = [], []
    for root, dirs, files in os.walk(pkg):
        dirs[:] = [d for d in dirs if d != "__pycache__"]
        for fn in files:
            path = os.path.join(root, fn)
            if not fn.endswith(".py") or path == owner:
                continue
            with open(path, encoding="utf-8") as f:
                src = f.read()
            if "write_table" in src or "ParquetWriter" in src:
                writers.append(os.path.relpath(path, here))
            if opens_parquet.search(src):
                readers.append(os.path.relpath(path, here))
    assert not writers, f"modules writing parquet files besides log.py: {writers}"
    assert not readers, f"modules reading parquet with pyarrow besides log.py: {readers}"


def test_every_operator_module_is_registered_and_named_for_its_family():
    """Every operator module is reachable from the registry — a module
    outside ``_modules()`` is code only its own tests run — and no
    source file, test file or test function is named for the round that
    wrote it (an ``_r<N>`` suffix, a ``test_r<N>`` name) rather than for
    what it does."""
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    ops = os.path.join(here, "elastic_stream_spark", "operators")
    on_disk = {
        fn[: -len(".py")]
        for fn in os.listdir(ops)
        if fn.endswith(".py") and fn != "__init__.py"
    }
    registered = {m.__name__.rsplit(".", 1)[-1] for m in _modules()}
    assert on_disk - registered == set(), "operator modules outside _modules()"

    round_named = []
    for top in ("elastic_stream_spark", "tests"):
        for root, dirs, files in os.walk(os.path.join(here, top)):
            dirs[:] = [d for d in dirs if d != "__pycache__"]
            round_named += [
                os.path.relpath(os.path.join(root, fn), here)
                for fn in dirs + files
                if re.search(r"_r\d+", fn)
            ]
    assert not round_named, f"round-named files: {round_named}"

    round_named_tests = []
    for root, dirs, files in os.walk(os.path.join(here, "tests")):
        dirs[:] = [d for d in dirs if d != "__pycache__"]
        for fn in files:
            if fn.endswith(".py"):
                with open(os.path.join(root, fn), encoding="utf-8") as f:
                    round_named_tests += re.findall(r"^def (test_r\d+\w*)", f.read(), re.M)
    assert not round_named_tests, f"round-named tests: {round_named_tests}"
