"""Registry/_PRIORITY consistency — enforced here instead of hard-failing
on the driver path (a single renamed query must cost one scorecard row,
never the whole contract)."""

from __future__ import annotations

import warnings

from trafsys_data_transfer_spark.registry import _PRIORITY, all_queries


def test_priority_matches_registry_exactly():
    qs = all_queries()
    assert set(_PRIORITY) <= set(qs), "unregistered _PRIORITY names"
    assert set(qs) <= set(_PRIORITY), (
        "registered queries missing from _PRIORITY (they would land after "
        f"the driver's scorecard window unordered): {set(qs) - set(_PRIORITY)}"
    )
    assert len(_PRIORITY) == len(set(_PRIORITY)), "duplicate _PRIORITY names"


#: The r12 driver window (VERDICT r11 task 1): the 50 scorecard slots
#: rotate onto the r11-touched queries so the driver converts the r11
#: optimization round's claimed equivalences (sort drops, bootstrap /
#: knn / bm25 / kcore algebra rewrites, components family, spread ripple)
#: into driver-verified fact.  Repeats from r1-r11 are INTENDED this
#: round — the point is post-change re-verification, not first coverage.
_R12_WINDOW_MUST_INCLUDE = {
    # the five r11 sort-drops
    "ivm_delta_join_orders",
    "orders_revenue_recognition",
    "orders_mor_read",
    "events_scd2_pit_join",
    "orders_fingerprint_repair",
    # algebra rewrites named by the r11 judge
    "events_bootstrap_ci",
    "embeddings_knn_label_noise",
    "text_bm25_index_compacted",
    "text_bm25_index_incremental",
    "text_bm25_index_probe",
    "text_bm25_topk",
    "graph_kcore_members",
    # components family (restructured again in r12)
    "er_golden_record",
    "dedup_components",
    "dedup_components_incremental",
    # driver-canonicalizable rewrite this round (VERDICT r11 item 1b)
    "embeddings_jl_project",
}


def test_priority_window_covers_r11_touched_set():
    """Round-12 rotation (VERDICT r11 task 1): every judge-named
    must-verify query sits inside the driver's 50-row window."""
    missing = [n for n in _R12_WINDOW_MUST_INCLUDE if n not in _PRIORITY[:50]]
    assert missing == [], (
        f"judge-named r11-touched queries missing from the r12 window: "
        f"{missing}"
    )


def test_priority_window_is_all_strict_oracle():
    """VERDICT r05 task 2/7: the window prefers strict-oracle queries.
    The r12 window is 100% strict — portable tiers stand in for their
    rows-only base variants (same code path, hash-verifiable)."""
    qs = all_queries()
    rows_only = [n for n in list(qs)[:50] if qs[n].oracle is None]
    assert rows_only == [], (
        f"rows-only queries inside the driver's 50-row window: "
        f"{rows_only}; swap in a strict-oracle family representative instead"
    )


def test_all_queries_is_ordered_by_priority():
    names = list(all_queries())
    assert names[: len(_PRIORITY)] == [n for n in _PRIORITY if n in set(names)]


def test_unregistered_priority_name_warns_but_serves(monkeypatch):
    """A stale _PRIORITY entry degrades gracefully: warning + every
    registered query still served."""
    import trafsys_data_transfer_spark.registry as reg

    monkeypatch.setattr(reg, "_PRIORITY", ("no_such_query",) + reg._PRIORITY)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        qs = reg.all_queries()
    assert any("no_such_query" in str(w.message) for w in caught)
    assert "flagship_revenue_topk" in qs
    assert len(qs) == len(reg._PRIORITY) - 1


#: Names that once ran an xxhash64 twin of a strict ``_portable`` tier;
#: each now serves the ``_portable`` builder and oracle.
_ONE_HASH_NAMES = (
    "dedup_minhash_lsh",
    "dedup_incremental_neardup",
    "dedup_simhash",
    "dedup_neardup_pipeline",
    "pretrain_data_pipeline",
    "text_winnow_candidates",
    "text_decontaminate_fuzzy",
)


def test_near_dup_names_share_their_portable_builder_and_oracle():
    qs = all_queries()
    for name in _ONE_HASH_NAMES:
        twin = qs[f"{name}_portable"]
        assert qs[name].build is twin.build, name
        assert qs[name].oracle is not None and qs[name].oracle == twin.oracle, name


def test_rows_only_queries_are_the_two_without_a_sql_oracle():
    qs = all_queries()
    assert {n for n, s in qs.items() if s.oracle is None} == {
        "multimodal_image_neardup",
        "tokenizer_bpe_stats",
    }
