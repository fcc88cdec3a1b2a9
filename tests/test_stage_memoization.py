"""The shared-stage memoization contract (PLANS.md round-3 section):
within one session a stage builds once and every consumer rides the
same checkpoint; a different session misses the cache and still
computes correct results (keys are (session, sf_dir), so stale
checkpoints never leak across sessions)."""

from __future__ import annotations


def test_same_session_hits_cache(spark, sf_dir):
    from trx_spark.queries.corpus import quality_filter
    from trx_spark.queries.curation import _bigram_stream, _token_stream

    assert _bigram_stream(spark, sf_dir) is _bigram_stream(spark, sf_dir)
    assert _token_stream(spark, sf_dir) is _token_stream(spark, sf_dir)
    assert quality_filter(spark, sf_dir) is quality_filter(spark, sf_dir)


def test_new_session_misses_cache_and_stays_correct(spark, sf_dir):
    from trx_spark.queries.curation import topk_ngrams

    base = {(r["ngram"], r["n_occurrences"]) for r in topk_ngrams(spark, sf_dir).collect()}
    other = spark.newSession()
    again = {(r["ngram"], r["n_occurrences"]) for r in topk_ngrams(other, sf_dir).collect()}
    assert base == again and len(base) > 0


def test_distinct_sf_dirs_get_distinct_stages(spark, sf_dir):
    from trx_spark.queries.curation import _token_stream

    a = _token_stream(spark, sf_dir)
    b = _token_stream(spark, "/root/testdata/sf0.01")
    assert a is not b
    assert a.count() != b.count() or sf_dir == "/root/testdata/sf0.01"


def test_clear_stage_caches(spark, sf_dir):
    """clear_stage_caches empties every kind of memo: a checkpointed
    DataFrame (token_stream), a side-effect fixture (mg_landing) and an
    argument-keyed memo (allpairs_truth, keyed on key_cap) — whose
    default-applied and explicit-default calls share one entry."""
    from trx_spark.cache import MEMO_BUILDS, clear_stage_caches, stage_cache_stats
    from trx_spark.queries.curation import _token_stream
    from trx_spark.queries.streamingq import _mg_landing
    from trx_spark.queries.textdata import _ALLPAIRS_KEY_CAP, allpairs_jaccard_join

    clear_stage_caches()
    _token_stream(spark, sf_dir)
    _mg_landing(spark, sf_dir)
    truth = allpairs_jaccard_join(spark, sf_dir)
    builds = len(MEMO_BUILDS)
    assert allpairs_jaccard_join(spark, sf_dir, key_cap=_ALLPAIRS_KEY_CAP) is truth
    assert len(MEMO_BUILDS) == builds  # a hit builds nothing
    stats = stage_cache_stats()
    for name in ("token_stream", "mg_landing", "allpairs_truth"):
        assert stats[name] == 1, (name, stats[name])
    assert clear_stage_caches() >= 3
    assert all(v == 0 for v in stage_cache_stats().values())
    # next consumer rebuilds transparently
    assert _token_stream(spark, sf_dir).count() > 0


def test_no_module_level_memo_dicts():
    """Every memo goes through trx_spark.cache's registry, so
    clear_stage_caches() reaches it by construction. A hand-rolled
    module-level dict would survive the clear holding an unpersisted
    localCheckpoint, which crashes the next consumer with
    CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND (the bench cold pass once found
    exactly this for the knn edge memo). A memo dict is recognized by
    its name or by being empty once every module is imported (constant
    tables are never empty; a memo stays empty until a query runs)."""
    import importlib
    import pkgutil

    import trx_spark

    mods = [
        importlib.import_module(info.name)
        for info in pkgutil.walk_packages(trx_spark.__path__, "trx_spark.")
        if info.name != "trx_spark.cache"
    ]
    offenders = [
        f"{mod.__name__}.{name}"
        for mod in mods
        for name, val in vars(mod).items()
        if isinstance(val, dict)
        and (name.endswith(("_CACHE", "_MEMO")) or not val)
    ]
    assert not offenders, f"module-level memo dicts: {offenders}"
