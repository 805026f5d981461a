"""Checkpoint/resume semantics of the stage runner."""

import json
import os

import pytest

from renard_spark import corpus
from renard_spark.plans.stage import StageRunner
from renard_spark.io.catalog import get_catalog
from renard_spark.run import build_runner


def test_full_runner_and_resume(spark, tmp_path):
    wd = str(tmp_path / "kg")
    docs = corpus.generate_documents(spark, 10, seed=4)
    runner = build_runner(spark, docs, wd, with_speech=False)
    out = runner.run()
    assert out["triples"].count() > 0
    assert os.path.exists(os.path.join(wd, "_manifest.json"))

    with open(os.path.join(wd, "_manifest.json")) as f:
        m1 = json.load(f)

    # second run: everything fresh → all skipped, manifest unchanged
    runner2 = build_runner(spark, docs, wd, with_speech=False)
    runner2.run()
    with open(os.path.join(wd, "_manifest.json")) as f:
        m2 = json.load(f)
    assert m1 == m2

    # rerun_from recomputes that stage and downstream only
    runner3 = build_runner(spark, docs, wd, with_speech=False)
    runner3.run(rerun_from="unified_mentions")
    with open(os.path.join(wd, "_manifest.json")) as f:
        m3 = json.load(f)
    assert (m3["sentence_tokens"]["finished_at"]
            == m1["sentence_tokens"]["finished_at"])
    assert m3["unified_mentions"]["finished_at"] > m1["unified_mentions"]["finished_at"]
    assert m3["triples"]["finished_at"] > m1["triples"]["finished_at"]

    # config change invalidates the stage (different hash)
    runner4 = build_runner(spark, docs, wd, with_speech=False,
                           min_appearances=2)
    runner4.run()
    with open(os.path.join(wd, "_manifest.json")) as f:
        m4 = json.load(f)
    assert m4["unified_mentions"]["config_hash"] != m1["unified_mentions"]["config_hash"]

    # metrics table: one row-set per stage materialization
    stages = {r.stage for r in runner.metrics().collect()}
    assert {"sentence_tokens", "entities", "unified_mentions", "edges",
            "triples"} <= stages


def _rows(df) -> list[str]:
    """Order-insensitive, exact comparison form of a table."""
    return sorted(
        repr(sorted(r.asDict(recursive=True).items())) for r in df.collect()
    )


@pytest.fixture(scope="module")
def full_run(spark, tmp_path_factory):
    """Every production stage over a small corpus, materialized once."""
    docs = corpus.generate_documents(spark, 12, seed=4)
    runner = build_runner(
        spark, docs, str(tmp_path_factory.mktemp("full_kg") / "kg")
    )
    return docs, runner, runner.run()


def test_stage_counters_come_from_the_write_job(spark, full_run):
    """Each stage's manifest entry holds its table's row count and,
    for a stage with ``doc_id``, its distinct document count within
    HyperLogLog error (relative standard deviation 5%; three of them
    allowed); no ``_metrics`` table is written. ``metrics()`` reads
    the same numbers."""
    _, runner, out = full_run
    root = runner.catalog.root
    with open(os.path.join(root, "_manifest.json")) as f:
        manifest = json.load(f)
    assert not os.path.exists(os.path.join(root, "_metrics"))
    metrics = {r.stage: (r.rows, r.docs) for r in runner.metrics().collect()}
    assert metrics.keys() == manifest.keys() == out.keys()
    for name, df in out.items():
        entry = manifest[name]
        assert entry["rows"] == df.count(), name
        if "doc_id" in df.columns:
            exact = df.select("doc_id").distinct().count()
            assert abs(entry["docs"] - exact) <= 0.15 * exact, name
        else:
            assert entry["docs"] is None, name
        assert metrics[name] == (entry["rows"], entry["docs"]), name


def test_runner_edges_equal_token_table_wiring(spark, full_run):
    """The production edges (co-occurrence over the sentence_tokens
    bounds, narrow polarities) and triples equal the token-table wiring
    over the runner's own unified mentions: ``cooccurrence_edges`` with
    the exploded tokens and the join-based sentence polarities."""
    from renard_spark.operators import cooccur, sentiment, tokenize, triples
    from renard_spark.sources import ingest

    docs, _, out = full_run
    toks = tokenize.tokens(ingest.normalize_documents(docs))
    edges = cooccur.cooccurrence_edges(
        out["unified_mentions"].select(
            "doc_id", "char_id", "start_idx", "end_idx"
        ),
        dist=1, unit="sentences", tokens_df=toks,
        polarities_df=sentiment.sentence_polarities(toks),
    )

    def assert_same(got, want, key):
        got, want = (
            {tuple(r[c] for c in key): r for r in df.collect()}
            for df in (got, want)
        )
        assert got.keys() == want.keys() and len(got) > 0
        for k, r in got.items():
            assert r.weight == want[k].weight, k
            # the two sentence-polarity operators sum in different orders
            assert abs(r.polarity - want[k].polarity) < 1e-9, k

    assert_same(out["edges"], edges, ("doc_id", "src", "dst"))
    assert_same(out["triples"], triples.edges_to_triples(edges),
                ("doc_id", "subj", "pred", "obj"))


def test_materialized_stages_equal_lazy_composer(spark, full_run):
    """Every stage table the runner materializes equals the lazy
    composer's table of the same stage list."""
    from renard_spark import pipeline

    _, runner, out = full_run
    lazy = pipeline.compose(runner.stages, runner.inputs, persist=False)
    names = [st.name for st in runner.stages]
    assert {"sentence_tokens", "polarities", "edges", "media_links",
            "conversation_edges"} <= set(names)
    for name in names:
        assert _rows(out[name]) == _rows(lazy[name]), name


def test_gazetteer_change_recomputes_stages(spark, tmp_path):
    """A rerun on the same workdir with another gazetteer returns what
    a fresh workdir returns, not the checkpointed tables."""
    from renard_spark import pipeline

    docs = corpus.generate_documents(spark, 20, seed=4)
    gaz = pipeline.default_gazetteer()
    quarter = gaz[: len(gaz) // 4]
    kw = dict(with_speech=False, with_media=False)
    wd = str(tmp_path / "kg")
    build_runner(spark, docs, wd, gazetteer=gaz, **kw).run()
    rerun = build_runner(spark, docs, wd, gazetteer=quarter, **kw).run()
    fresh = build_runner(
        spark, docs, str(tmp_path / "fresh"), gazetteer=quarter, **kw
    ).run()
    for name in ("entities", "unified_mentions", "edges", "triples"):
        assert _rows(rerun[name]) == _rows(fresh[name]), name


def test_media_links_stage_matches_bruteforce(spark, tmp_path):
    """The media_links stage output equals the brute-force global
    argmin over (|offset − char_start|, char_start) per media span."""
    from renard_spark.sources import ingest

    wd = str(tmp_path / "kg_media")
    docs = corpus.generate_documents(spark, 8, seed=7)
    runner = build_runner(spark, docs, wd, with_speech=False)
    out = runner.run()

    got = {
        (r.doc_id, r.media_ref): (r.character, r.dist)
        for r in out["media_links"].collect()
    }

    offs = {
        (r.doc_id, r.tok_idx): r.char_start
        for r in out["token_offsets"].collect()
    }
    ments = {}
    for r in out["unified_mentions"].collect():
        cs = offs[(r.doc_id, r.start_idx)]
        ments.setdefault(r.doc_id, []).append((cs, r.char_id))
    media = ingest.media_spans(out["documents"]).collect()
    assert len(media) > 0

    want = {}
    for r in media:
        cands = ments.get(r.doc_id)
        if not cands:
            continue
        dist, cs, ch = min(
            (abs(r.offset - cs), cs, ch) for cs, ch in cands
        )
        want[(r.doc_id, r.media_ref)] = (ch, dist)
    assert got == want


def test_kb_linking_stage_matches_inline(spark, tmp_path):
    """The optional entity_links stage equals the direct operator
    call, and a kb_version bump invalidates only that stage."""
    from renard_spark.operators import linking, tokenize
    from renard_spark.sources import ingest

    kb = spark.createDataFrame(
        [("e_lady", ["lady", "catherine"], ["letter", "village"], 0.7)],
        "entity_id string, aliases array<string>,"
        " context array<string>, prior double",
    )
    wd = str(tmp_path / "kg_kb")
    docs = corpus.generate_documents(spark, 6, seed=9)
    runner = build_runner(
        spark, docs, wd, with_speech=False, with_media=False, kb_df=kb
    )
    out = runner.run()
    staged = sorted(map(tuple, out["entity_links"].collect()))
    inline = sorted(
        map(
            tuple,
            linking.link_entities(
                tokenize.tokens(ingest.normalize_documents(docs)), kb
            ).collect(),
        )
    )
    assert staged == inline
    assert len(staged) > 0

    m1 = json.load(open(os.path.join(wd, "_manifest.json")))
    runner2 = build_runner(
        spark, docs, wd, with_speech=False, with_media=False, kb_df=kb,
        kb_version="v1",
    )
    runner2.run()
    m2 = json.load(open(os.path.join(wd, "_manifest.json")))
    assert m2["entity_links"]["config_hash"] != m1["entity_links"]["config_hash"]
    assert (m2["sentence_tokens"]["finished_at"]
            == m1["sentence_tokens"]["finished_at"])


def test_check_valid_rejects_missing_dep(spark, tmp_path):
    cat = get_catalog(spark, str(tmp_path / "bad"))
    r = StageRunner(spark, cat, inputs={})
    r.add("b", ["a"], lambda s, a: a)
    with pytest.raises(ValueError, match="needs \\['a'\\]"):
        r.run()


def test_curation_pipeline_resumes_and_matches_inline(spark, tmp_path):
    import json
    import os

    from renard_spark.functions.curation import curate, curation_pipeline

    base = (
        "the quick brown fox jumps over the lazy dog and then the fox "
        "runs into the woods where it finds a quiet stream"
    )
    docs = spark.createDataFrame(
        [(i, f"{base} tail{i % 3}") for i in range(1, 13)],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, base + " tail0")], "doc_id long, text string"
    )
    wd = str(tmp_path / "curate_wd")
    kw = dict(contam_w=5, quality_min=0.5, contam_max=0.9)
    out = curation_pipeline(spark, docs, bench, wd, **kw)
    staged = sorted(
        map(tuple, out["curated"].collect())
    )
    inline = sorted(map(tuple, curate(docs, bench, **kw).collect()))
    assert staged == inline  # staged == the inline composition

    manifest = json.load(open(os.path.join(wd, "_manifest.json")))
    t_pairs = manifest["near_dup_pairs"]["finished_at"]
    # threshold-only change: expensive upstream stages stay checkpointed,
    # only the decision stage (changed config hash) recomputes
    out2 = curation_pipeline(
        spark, docs, bench, wd, contam_w=5, quality_min=0.6,
        contam_max=0.9,
    )
    manifest2 = json.load(open(os.path.join(wd, "_manifest.json")))
    assert manifest2["near_dup_pairs"]["finished_at"] == t_pairs
    assert manifest2["curated"]["finished_at"] != manifest["curated"]["finished_at"]
    # the new threshold is live in the recomputed table
    q6 = {r.doc_id: r for r in out2["curated"].collect()}
    for r in q6.values():
        if r.keep == 1:
            assert r.quality_score >= 0.6


def test_curation_normalize_stage_matches_inline(spark, tmp_path):
    """normalize=True: whitespace/unicode variants of one document
    dedup together, and the staged pipeline equals the inline curate."""
    from renard_spark.functions.curation import curate, curation_pipeline

    base = (
        "the quick brown fox jumps over the lazy dog and then the fox "
        "runs into the woods where it finds a quiet stream"
    )
    dirty = " \t" + base.replace(" the ", "  the ") + "  "
    docs = spark.createDataFrame(
        [(1, base), (2, dirty), (3, base + " unrelated tail here")],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "completely different benchmark text")],
        "doc_id long, text string",
    )
    kw = dict(contam_w=5, quality_min=0.0, contam_max=0.9, normalize=True)
    inline = {r.doc_id: r for r in curate(docs, bench, **kw).collect()}
    # doc 2 normalizes to doc 1's exact bytes -> same cluster (equal
    # quality), and the whole cluster keeps exactly one survivor
    assert inline[1].cluster_id == inline[2].cluster_id
    assert inline[1].quality_score == inline[2].quality_score
    cluster = inline[1].cluster_id
    keepers = [
        r for r in inline.values()
        if r.cluster_id == cluster and r.keep_dedup == 1
    ]
    assert len(keepers) == 1

    wd = str(tmp_path / "curate_norm")
    staged = curation_pipeline(spark, docs, bench, wd, **kw)
    got = sorted(map(tuple, staged["curated"].collect()))
    want = sorted(map(tuple, curate(docs, bench, **kw).collect()))
    assert got == want


def test_bucketed_catalog_join_has_no_exchange(spark, tmp_path):
    """Stage tables written through BucketedCatalog carry real bucket
    metadata: a doc_id join of two of them plans with ZERO Exchange —
    the co-located-join contract the Iceberg bucket(N, doc_id)
    transform provides in production."""
    from renard_spark.io.catalog import BucketedCatalog

    cat = BucketedCatalog(spark, str(tmp_path / "bcat"), default_buckets=4)
    a = spark.range(500).selectExpr("cast(id as string) doc_id", "id*2 v")
    b = spark.range(500).selectExpr("cast(id as string) doc_id", "id*3 w")
    try:
        cat.write("ta", a)
        cat.write("tb", b)
        assert cat.exists("ta") and cat.exists("tb")
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
        try:
            j = cat.read("ta").join(cat.read("tb"), "doc_id")
            plan = j._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" not in plan
            assert "Bucketed: true" in plan
            assert j.count() == 500
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    finally:
        cat.drop("ta")
        cat.drop("tb")


def test_bucketed_catalog_backs_stage_runner(spark, tmp_path):
    from renard_spark.io.catalog import BucketedCatalog

    cat = BucketedCatalog(spark, str(tmp_path / "bstage"))
    r = StageRunner(
        spark, cat,
        inputs={"docs": spark.range(10).selectExpr(
            "cast(id as string) doc_id", "id v")},
    )
    r.add("doubled", ["docs"],
          lambda s, d: d.selectExpr("doc_id", "v * 2 AS v2"))
    try:
        out = r.run()
        assert out["doubled"].count() == 10
        # resume: stage table found by name, not recomputed
        r2 = StageRunner(spark, cat, inputs={"docs": None})
        r2.add("doubled", ["docs"], lambda s, d: (_ for _ in ()).throw(
            AssertionError("must not recompute")))
        assert r2.run()["doubled"].count() == 10
    finally:
        cat.drop("doubled")


def test_bucketed_catalog_cross_session_reregister(spark, tmp_path):
    """Orphaned bucketed stage tables (the in-memory catalog forgot
    them — a new session) re-register from the _bucketspec sidecar
    with bucketing intact: joins still plan with zero Exchange."""
    from renard_spark.io.catalog import BucketedCatalog

    root = str(tmp_path / "bfs")
    cat = BucketedCatalog(spark, root, default_buckets=4)
    a = spark.range(200).selectExpr("cast(id as string) doc_id", "id*2 v")
    b = spark.range(200).selectExpr("cast(id as string) doc_id", "id*3 w")
    try:
        cat.write("ra", a)
        cat.write("rb", b)
        # simulate a fresh session: metadata gone, files remain
        spark.sql(f"DROP TABLE {cat.path('ra')}")
        spark.sql(f"DROP TABLE {cat.path('rb')}")
        assert not spark.catalog.tableExists(cat.path("ra"))
        assert cat.exists("ra") and cat.exists("rb")  # re-registered
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
        try:
            j = cat.read("ra").join(cat.read("rb"), "doc_id")
            plan = j._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" not in plan
            assert j.count() == 200
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    finally:
        cat.drop("ra")
        cat.drop("rb")
