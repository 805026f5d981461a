"""Span-derived narrative blocks + global cross-document unification."""

from pyspark.sql import functions as F

from renard_spark import corpus, pipeline
from renard_spark.operators import cooccur, ner, tokenize
from renard_spark.operators import utils as oputils
from renard_spark.operators.unify_scale import unify_distributed
from renard_spark.sources import ingest


def test_span_blocks_cover_text(spark):
    docs = ingest.normalize_documents(
        corpus.generate_documents(spark, 12, seed=23, media_rate=0.5)
    )
    blocks = ingest.span_blocks(docs).collect()
    texts = {r.doc_id: r.text for r in docs.select("doc_id", "text").collect()}
    by_doc = {}
    for b in blocks:
        by_doc.setdefault(b.doc_id, []).append((b.block_id, b.char_start, b.char_end))
    for doc_id, bs in by_doc.items():
        bs.sort()
        # contiguous coverage of the text stream
        assert bs[0][1] == 0
        for (_, s1, e1), (_, s2, e2) in zip(bs, bs[1:]):
            assert s2 == e1
        assert bs[-1][2] == len(texts[doc_id])


def test_block_level_cooccurrence_via_span_blocks(spark):
    docs = ingest.normalize_documents(
        corpus.generate_documents(spark, 8, seed=29, media_rate=0.6)
    )
    offsets = tokenize.tokens_with_offsets(docs)
    blocks_tok = oputils.char_blocks_to_token_blocks(
        ingest.span_blocks(docs), offsets
    ).withColumnRenamed("start", "start").withColumnRenamed("end", "end")
    ents = ner.rule_ner_sentences(
        tokenize.sentence_tokens(docs), pipeline.default_gazetteer()
    )
    mentions = ents.select(
        "doc_id", F.col("mention_str").alias("char_id"), "start_idx", "end_idx"
    )
    assigned = cooccur.assign_dynamic_blocks(
        mentions, blocks_tok.withColumnRenamed("block_id", "block_id")
    )
    assert assigned.count() > 0
    edges = cooccur.cooccurrence_edges(
        assigned.withColumnRenamed("block_id", "window_id"),
        dist=1000, unit="tokens", group_col="window_id",
    )
    # block-scoped graphs exist and every edge's window is a real block
    rows = edges.collect()
    assert len(rows) > 0
    nblocks = {
        r.doc_id: r.n for r in blocks_tok.groupBy("doc_id").agg(
            F.count(F.lit(1)).alias("n")).collect()
    }
    assert all(0 <= r.window_id < nblocks[r.doc_id] for r in rows)


def test_global_cross_document_unification(spark):
    docs = ingest.normalize_documents(corpus.generate_documents(spark, 20, seed=31))
    ents = ner.rule_ner_sentences(
        tokenize.sentence_tokens(docs), pipeline.default_gazetteer()
    )
    unified = unify_distributed(ents)
    chars = unified.select("char_id", "names").distinct().collect()
    # the cast is global: nicknames/titles unify ACROSS documents
    by_char = {tuple(r.names) for r in chars}
    assert any(
        "Elizabeth" in names and "Lizzy" in names for names in by_char
    )
    # far fewer global characters than per-doc duplicated ones
    assert len(by_char) <= 12
