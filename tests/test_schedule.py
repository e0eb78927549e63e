"""Pins for the driver-window verification schedule (queries.py::_schedule).

The correctness driver checks only the first 50 entries of queries()
iteration order, so the schedule IS the verification rotation.  It is
derived at call time from the committed CORRECTNESS_r{N}.json artifacts
(queries.py::_last_green_rounds): these tests pin the green rule, the
order on a frozen copy of r01..r19, and that a new artifact rotates the
window with no edit to queries.py.  Snapshot tests point
``_ARTIFACT_DIR`` at a tmp copy so a future artifact never needs an edit
here.
"""

import json
import shutil
from collections import Counter
from pathlib import Path

import pytest

from datafusion_bigtable_spark import queries as q

REPO = Path(q.__file__).resolve().parents[1]

# names()[:50] on CORRECTNESS_r01..r19: the 34 queries last green in r16,
# then the first 16 last green in r17, each tier in registry order.
R19_WINDOW = [
    "bt_value_filter_pushdown",
    "bt_value_regex_pushdown",
    "bt_int_key_prune",
    "bt_wire_sharded_scan",
    "dedup_exact",
    "dedup_ngram_jaccard",
    "dedup_containment",
    "dedup_substring_spans",
    "dedup_minhash_lsh",
    "dedup_minhash_estimate",
    "dedup_lsh_quality",
    "dedup_prefix_filter",
    "dedup_sampled_rate",
    "dedup_simhash",
    "dedup_embedding_cosine",
    "dedup_embedding_cosine_ivf",
    "dedup_embedding_cosine_ivf2",
    "text_ngram_perplexity",
    "text_word_perplexity",
    "sim_topk_pq_adc",
    "sim_topk_ivfpq",
    "text_curation_sql",
    "corpus_mixing_alpha",
    "text_heavy_hitters",
    "corpus_zipf_slope",
    "embedding_random_projection",
    "sim_topk_projected",
    "multimodal_ahash_dedup",
    "embedding_cluster_outliers",
    "sim_topk_filtered",
    "corpus_pack_utilization",
    "table_profile_lineitem",
    "sim_index_delete",
    "sim_topk_ivfpq_saved",
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "agg_distinct_stats",
    "rollup_lineitem_qty",
    "cube_orders_revenue",
    "window_topk_per_group",
    "window_running_sum",
    "window_lag_delta",
    "topk_orders_global",
    "set_ops_nation_overlap",
    "set_ops_nation_except",
    "corpus_leakage_safe_split",
    "dedup_connected_components",
    "dedup_semantic_prune",
    "dedup_keep_canonical",
    "streaming_curation_filter",
]


def _green(record: dict) -> bool:
    return (
        record.get("rows_match") is True
        and record.get("schema_match") is True
        and record.get("hash_match") is True
        and record.get("err") is None
    )


@pytest.fixture
def r19_artifacts(tmp_path, monkeypatch):
    """A frozen copy of CORRECTNESS_r01..r19 as the schedule's only input."""
    for n in range(1, 20):
        name = f"CORRECTNESS_r{n:02d}.json"
        shutil.copy(REPO / name, tmp_path / name)
    monkeypatch.setattr(q, "_ARTIFACT_DIR", tmp_path)
    return tmp_path


def test_registry_size_and_full_green_fold():
    # 184 = the registry this round: no query family is added.  Queries no
    # committed artifact has proved green carry 0 and sit in the window.
    assert len(q.REGISTRY) == 184
    sched = q._schedule()
    last = q._last_green_rounds()
    for name in (n for n in q.REGISTRY if n not in last):
        assert sched.index(name) < 50, f"never-green query {name} outside driver window"


def test_window_contains_all_stale_and_touched():
    """The 50-slot window holds the stalest queries: nothing outside it was
    last proved green before anything inside it."""
    sched = q._schedule()
    last = q._last_green_rounds()
    inside = [last.get(n, 0) for n in sched[:50]]
    outside = [last.get(n, 0) for n in sched[50:]]
    assert max(inside) <= min(outside)


def test_touched_query_outranks_stale_green():
    # Oldest green first; the sort is stable, so ties keep registry order.
    sched = q._schedule()
    last = q._last_green_rounds()
    assert sched == sorted(q.REGISTRY, key=lambda n: last.get(n, 0))


def test_every_correctness_artifact_is_folded(monkeypatch, tmp_path):
    """Every committed CORRECTNESS_r{N}.json reaches the schedule with no
    hand edit: each name it records green carries a last-green round >= N
    (a later artifact may raise it)."""
    artifacts = sorted(REPO.glob("CORRECTNESS_r*.json"))
    assert artifacts, "no correctness artifacts found next to the package"
    last = q._last_green_rounds()
    for art in artifacts:
        n = int(art.stem.split("_r")[1])
        greens = {name for name, r in json.loads(art.read_text()).items() if _green(r)}
        missing = {name for name in greens if last.get(name, 0) < n}
        assert missing == set(), f"{art.name} greens not derived: {sorted(missing)}"

    # hash_match is part of green: r10's corpus_mixing_alpha matched rows and
    # schema but failed the hash (HUGEINT -> float64 in the driver's pandas
    # path), so r10 alone must not prove it.
    rec = json.loads((REPO / "CORRECTNESS_r10.json").read_text())["corpus_mixing_alpha"]
    assert rec["rows_match"] and rec["schema_match"] and not rec["hash_match"]
    shutil.copy(REPO / "CORRECTNESS_r10.json", tmp_path / "CORRECTNESS_r10.json")
    monkeypatch.setattr(q, "_ARTIFACT_DIR", tmp_path)
    only_r10 = q._last_green_rounds()
    assert "corpus_mixing_alpha" not in only_r10
    assert only_r10, "r10 greens not derived"


def test_schedule_snapshot_on_r01_to_r19(r19_artifacts):
    last = q._last_green_rounds()
    assert Counter(last.get(n, 0) for n in q.REGISTRY) == {16: 34, 17: 50, 18: 50, 19: 50}
    assert q.names()[:50] == R19_WINDOW
    assert list(q.queries()) == q.names()
    assert list(q.oracle_sql()) == [n for n in q.names() if q.REGISTRY[n].sql is not None]


def test_new_artifact_rotates_window_and_bad_artifacts_are_ignored(r19_artifacts):
    before = q.names()
    everything_green = {
        n: {"rows_match": True, "schema_match": True, "hash_match": True, "err": None}
        for n in q.REGISTRY
    }
    # None of these may move the schedule.
    (r19_artifacts / "CORRECTNESS_r21.json").write_text("{not json")
    (r19_artifacts / "CORRECTNESS_r22.json").write_text(json.dumps(list(q.REGISTRY)))
    (r19_artifacts / "CORRECTNESS_r23.json").write_text(json.dumps({"dedup_exact": None}))
    (r19_artifacts / "CORRECTNESS_rlatest.json").write_text(json.dumps(everything_green))
    (r19_artifacts / "CORRECTNESS_r24_rerun.json").write_text(json.dumps(everything_green))
    failed = {n: dict(r, err="boom") for n, r in everything_green.items()}
    (r19_artifacts / "CORRECTNESS_r25.json").write_text(json.dumps(failed))
    assert q.names() == before

    # The driver checks this round's window and all of it comes back green:
    # the next round's window is the next 50 names, no queries.py edit.
    r20 = {n: everything_green[n] for n in before[:50]}
    (r19_artifacts / "CORRECTNESS_r20.json").write_text(json.dumps(r20))
    after = q.names()
    assert after[:50] == before[50:100]
    assert set(after[-50:]) == set(before[:50])


def test_content_tag_format_is_frozen(tmp_path):
    """Every content-addressed /tmp fixture derives its identity from
    _tag_of/_src_tag (review r14-3 #5).  The byte format is FROZEN:
    changing it re-keys every store on disk into a one-time rewrite, so
    an edit that alters these hashes must be a deliberate choice that
    updates this pin, never a refactoring accident."""
    import hashlib
    import os

    assert q._tag_of("a", "b", 3) == hashlib.md5(b"a|b|3").hexdigest()[:12]
    p = tmp_path / "documents.parquet"
    p.write_bytes(b"x" * 7)
    st = os.stat(p)
    expect = hashlib.md5(
        f"pfx|{os.path.abspath(p)}|{st.st_mtime_ns}|{st.st_size}".encode()
    ).hexdigest()[:12]
    assert q._src_tag("pfx", str(tmp_path), "documents") == expect


def test_stale_store_version_sweep_scopes_to_family(tmp_path, monkeypatch):
    """The reused /tmp stores' version sweep removes only 12-hex-tag
    siblings of the SAME family — never a prefix-sharing other family,
    a non-tag leaf, or the live store itself."""
    import os

    base_dir = tmp_path / "stores"
    base_dir.mkdir()
    live = str(base_dir / "dbs_postings_sf0.01_aaaaaaaaaaaa")
    stale = str(base_dir / "dbs_postings_sf0.01_bbbbbbbbbbbb")
    other_sf = str(base_dir / "dbs_postings_sf0.011_cccccccccccc")
    non_tag = str(base_dir / "dbs_postings_sf0.01_notatag")
    for d in (live, stale, other_sf, non_tag):
        os.makedirs(d)
    q._sweep_stale_store_versions(live)
    assert os.path.isdir(live), "live store swept"
    assert not os.path.isdir(stale), "stale version survived"
    assert os.path.isdir(other_sf), "other sf dir's store swept"
    assert os.path.isdir(non_tag), "non-tag leaf swept"
