"""Physical-plan regression guards: column pruning reaches the scan,
no row-at-a-time Python UDFs anywhere, the narrow tokenizer stays
shuffle-free, and small dims broadcast."""

import re

from renard_spark import corpus, pipeline
from renard_spark.operators import ner, tokenize
from renard_spark.sources import ingest


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_tokenizer_is_shuffle_free(spark):
    docs = ingest.normalize_documents(corpus.generate_documents(spark, 5))
    for df in (tokenize.tokens(docs), tokenize.sentence_tokens(docs)):
        plan = _plan(df)
        assert "Exchange" not in plan
        assert "BatchEvalPython" not in plan  # no row-at-a-time UDFs


def test_rule_ner_sentences_is_shuffle_free(spark):
    docs = ingest.normalize_documents(corpus.generate_documents(spark, 5))
    st = tokenize.sentence_tokens(docs)
    plan = _plan(ner.rule_ner_sentences(st, pipeline.default_gazetteer()))
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan


def test_default_pipeline_triples_is_one_crossing(spark):
    """The default configuration reaches triples through ONE Python
    map over one row per document, with no shuffle; the map reads the
    stored spans, so below it the JVM only scans (no lambda function,
    i.e. no span join or tokenizer, is evaluated there)."""
    docs = spark.createDataFrame(
        corpus.generate_documents_pdf(5), corpus.DOCUMENTS_SCHEMA
    )
    plan = _plan(pipeline.character_graph_pipeline(docs)["triples"])
    assert "Exchange" not in plan
    python_nodes = [
        line for line in plan.splitlines()
        if re.search(r"MapIn(Arrow|Pandas)|InPandas|EvalPython", line)
    ]
    assert len(python_nodes) == 1 and "MapInArrow" in python_nodes[0], plan
    assert re.search(r"\(doc_id#\d+, spans#\d+\)", python_nodes[0]), plan
    below = plan[plan.index(python_nodes[0]):]
    assert "lambdafunction" not in below, plan


def test_production_stages_cross_python_only_through_arrow(spark, tmp_path):
    """Every Python node in the executed plan of every stage of the
    production stage set (``run.build_runner``: KG, speech and media
    stages, rule corefs, lexicon polarities) is a ``MapInArrow``, the
    one batch crossing: no ``MapInPandas``, no row-at-a-time
    ``BatchEvalPython``."""
    from renard_spark import run

    docs = spark.createDataFrame(
        corpus.generate_documents_pdf(5), corpus.DOCUMENTS_SCHEMA
    )
    runner = run.build_runner(spark, docs, str(tmp_path / "kg"))
    names = run.KG_STAGES + run.SPEECH_STAGES + run.MEDIA_STAGES
    assert {st.name for st in runner.stages} == set(names)
    tables = pipeline.compose(runner.stages, runner.inputs, persist=False)
    for name in names:
        plan = _plan(tables[name])
        python_nodes = [
            line for line in plan.splitlines()
            if re.search(r"MapIn|InPandas|EvalPython", line)
        ]
        assert all("MapInArrow" in line for line in python_nodes), (
            name, plan)


def test_literal_tables_scan_locally(spark):
    """Driver-side literal tables (the BFS seed, the default lexicon,
    the relation-verb table) are planned as a ``LocalTableScan``, never
    as a scan of an RDD of Python rows, whose every scan runs Python
    tasks in a worker pool of its own."""
    from pyspark.sql import functions as F

    from renard_spark.functions import graph
    from renard_spark.operators import relations, sentiment

    edges = spark.range(4).select(
        F.col("id").cast("string").alias("src"),
        (F.col("id") + 1).cast("string").alias("dst"),
    )
    toks = tokenize.tokens(
        ingest.normalize_documents(corpus.generate_documents(spark, 3))
    )
    mentions = toks.select(
        "doc_id", F.col("token").alias("char_id"),
        F.col("token").alias("mention_str"),
        F.col("tok_idx").alias("start_idx"), F.col("tok_idx").alias("end_idx"),
    )
    for df, cols in (
        (graph.bfs_distances(edges, "0", iters=5), "node, d"),
        (sentiment.sentence_polarities(toks), "word, valence"),
        (relations.pattern_relations(mentions, toks), "verb, rel"),
    ):
        plan = _plan(df)
        scan = r"\[" + r", ".join(c + r"#\d+" for c in cols.split(", "))
        assert re.search("LocalTableScan " + scan, plan), plan
        assert not re.search("ExistingRDD" + scan, plan), plan


def test_local_table_equals_list_path(spark):
    """``local_table`` gives the schema and rows of
    ``spark.createDataFrame`` over the same list: an empty table, a
    struct column, column names only (types inferred), and ints in a
    double column, which the list path takes only as floats."""
    from renard_spark.operators.utils import local_table

    struct = "node string, d struct<distance: int, path: array<string>>"
    for rows, schema, listed in (
        ([], "shard int, n_docs long", []),
        ([("a", (0, ["a"])), ("b", (1, ["a", "b"]))], struct, None),
        ([("a",), ("b",)], ["node"], None),
        ([(1, "x")], ["id", "v"], None),
        ([("w", 1), ("x", -2.5)], "word string, valence double",
         [("w", 1.0), ("x", -2.5)]),
    ):
        got = local_table(spark, rows, schema)
        want = spark.createDataFrame(rows if listed is None else listed,
                                     schema)
        assert got.schema == want.schema, schema
        assert got.collect() == want.collect(), schema
        assert "ExistingRDD" not in _plan(got)


def test_column_pruning_reaches_scan(spark, tmp_path):
    # write a wide table, read two columns → ReadSchema must be pruned
    p = str(tmp_path / "wide")
    ingest.normalize_documents(
        corpus.generate_documents(spark, 5)
    ).write.parquet(p)
    df = spark.read.parquet(p).select("doc_id")
    m = re.search(r"ReadSchema: (\S+)", _plan(df))
    assert m and "spans" not in m.group(1), m


def test_new_queries_stay_jvm_side(spark):
    """Round-2 driver queries: no Python at all in the plan (pure
    window/higher-order/band-join work) and no nested-loop joins."""
    import __spark_entry__ as e

    sf = "/root/testdata/sf0.001"
    for name in ("bio_entities", "srp_multi_topk", "capped_near_dups",
                  "simhash_near_pairs"):
        plan = _plan(e.queries()[name](spark, sf))
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_no_row_udfs_in_full_pipeline(spark):
    docs = corpus.generate_documents(spark, 5)
    out = pipeline.character_graph_pipeline(docs, persist=False)
    plan = _plan(out["triples"])
    assert "BatchEvalPython" not in plan  # only Arrow-batched stages
    # gazetteer-joins and dims must broadcast, never shuffle both sides
    assert "BroadcastNestedLoopJoin" not in plan


def test_char_blocks_bounded_fanout(spark):
    """char_blocks_to_token_blocks must be an equi-join + Arrow lookup,
    never a row-explosion inequality join (the round-2 verdict's
    heaviest-plan finding)."""
    from renard_spark.operators import utils as oputils

    blocks = spark.createDataFrame(
        [("d1", 0, 0, 10), ("d1", 1, 10, 25)],
        "doc_id string, block_id int, char_start int, char_end int",
    )
    offsets = spark.createDataFrame(
        [("d1", i, i * 5, i * 5 + 4) for i in range(6)],
        "doc_id string, tok_idx int, char_start int, char_end int",
    )
    out = oputils.char_blocks_to_token_blocks(blocks, offsets)
    plan = _plan(out)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # correctness of the searchsorted mapping
    got = {r["block_id"]: (r["start"], r["end"]) for r in out.collect()}
    assert got == {0: (0, 2), 1: (2, 5)}


def test_generators_explode_expressions_not_aliases(spark):
    """Exploding a bound ALIAS of an expensive expression lets
    InferFiltersFromGenerate add a size()>0 filter whose pushdown
    re-inlines the whole expression below upstream repartitions — the
    dedup family's heaviest map stage then runs twice (measured 8× at
    sf0.1). Guard: the optimized plans of the shingle and triple-parse
    generators must evaluate their regexps exactly once per input."""
    from renard_spark.functions import dedup
    from renard_spark.operators.relations import parse_text_triples

    docs = spark.createDataFrame(
        [(1, "a b c d e f")], "doc_id long, text string"
    )
    opt = (
        dedup.shingles(docs.repartition(2), 3)
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    assert opt.count("regexp_extract_all") == 1, opt

    gen = spark.createDataFrame(
        [(1, "(a, likes, b)")], "doc_id long, generated string"
    )
    opt = (
        parse_text_triples(gen)
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    assert opt.count("regexp_extract_all") == 3, opt
