"""`build` workload: `pipeline.character_graph_pipeline` over a seeded
synthetic narrative corpus; each pass drives `triples` to completion
through the noop sink.

The corpus is BLOCKS_PER_CORPUS blocks of BLOCK consecutive documents of
the program's generator (`corpus.generate_documents_pdf`, generator seed
13), the blocks drawn by the seed from a universe of UNIVERSE_BLOCKS.
Every document's triples depend on that document alone, so the expected
triple count and order-independent checksum of a corpus is the sum of the
per-block values pinned in `build_pinned.tsv` (regenerate with
`python3 perfbench/build.py`). The checksum is the sum of crc32 over the
rows (doc_id, subj, pred, obj, weight) joined by chr(31).
"""

from __future__ import annotations

import os
import random
from contextlib import contextmanager

from tracing import Clock

BLOCK = 250
UNIVERSE_BLOCKS = 64
BLOCKS_PER_CORPUS = 8
GEN_SEED = 13
WARM_DOCS = 50
DIST = (1, "sentences")
PINNED = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                      "build_pinned.tsv")


def corpus_blocks(seed: int) -> list[int]:
    return sorted(random.Random(seed).sample(range(UNIVERSE_BLOCKS),
                                             BLOCKS_PER_CORPUS))


def write_corpus(spark, blocks: list[int], path: str) -> None:
    import pandas as pd

    from renard_spark import corpus

    pdf = pd.concat(
        [corpus.generate_documents_pdf(BLOCK, seed=GEN_SEED, start=b * BLOCK)
         for b in blocks],
        ignore_index=True,
    )
    spark.createDataFrame(pdf, corpus.DOCUMENTS_SCHEMA).write.mode(
        "overwrite").parquet(path)


TRIPLE_COLS = ["doc_id", "subj", "pred", "obj", "weight"]


def _row_crc():
    from pyspark.sql import functions as F

    return F.crc32(F.concat_ws(chr(31), *[F.col(c).cast("string")
                                          for c in TRIPLE_COLS]))


def triple_digest(triples_df) -> tuple[int, int]:
    """(row count, sum of crc32 over the rows' TRIPLE_COLS)."""
    from pyspark.sql import functions as F

    row = triples_df.agg(F.count(F.lit(1)), F.sum(_row_crc())).first()
    return int(row[0]), int(row[1] or 0)


def block_digests(triples_df) -> dict:
    """block -> (row count, crc32 sum) of a triple table."""
    from pyspark.sql import functions as F

    block = (F.substring("doc_id", 5, 10).cast("long") / BLOCK).cast("int")
    rows = triples_df.groupBy(block.alias("block")).agg(
        F.count(F.lit(1)).alias("n"), F.sum(_row_crc()).alias("ck"),
    ).collect()
    return {r["block"]: (r["n"], r["ck"]) for r in rows}


def write_pinned(path: str, digests: dict, blocks: int) -> None:
    with open(path, "w") as f:
        for b in range(blocks):
            n, ck = digests.get(b, (0, 0))
            f.write(f"{b}\t{n}\t{ck}\n")


def expected(path: str, blocks: list[int]) -> tuple[int, int]:
    """Sum of the pinned (count, checksum) of `blocks`."""
    with open(path) as f:
        pinned = {int(b): (int(n), int(ck)) for b, n, ck in
                  (line.split() for line in f if line.strip())}
    return (sum(pinned[b][0] for b in blocks),
            sum(pinned[b][1] for b in blocks))


def _layer_calls():
    """(module, public function, layer) of every layer call on the path
    from documents to triples."""
    from renard_spark.operators import cooccur, ner, tokenize, triples, unify
    from renard_spark.sources import ingest

    return [
        (ingest, "normalize_documents", "ingest"),
        (tokenize, "sentence_tokens", "tokenize"),
        (ner, "rule_ner_sentences", "ner"),
        (unify, "graph_rules_unify", "unify"),
        (cooccur, "cooccurrence_edges_grouped", "cooccur"),
        (triples, "edges_to_triples", "triples"),
    ]


@contextmanager
def traced_layers(tracer):
    """While active, every layer call on the triples path runs in a span
    that materializes its output."""
    if not tracer.enabled:
        yield
        return
    saved = [(mod, name, getattr(mod, name), layer)
             for mod, name, layer in _layer_calls()]
    for mod, name, fn, layer in saved:
        setattr(mod, name, _traced(tracer, layer, fn))
    try:
        yield
    finally:
        for mod, name, fn, _ in saved:
            setattr(mod, name, fn)


def _traced(tracer, layer: str, fn):
    def call(*args, **kw):
        with tracer.span(layer, detail=fn.__name__) as rec:
            return tracer.materialize(rec, fn(*args, **kw))

    return call


class Build:
    check_ops = 0
    check_failed = 0

    def __init__(self, work: str, seed: int):
        self.blocks = corpus_blocks(seed)
        self.docs_path = os.path.join(work, "build", "documents")
        self.want = expected(PINNED, self.blocks)
        self.n_docs = BLOCK * BLOCKS_PER_CORPUS

    def make_inputs(self, spark) -> None:
        write_corpus(spark, self.blocks, self.docs_path)

    def prepare(self, spark) -> None:
        """One untimed pass over the first WARM_DOCS documents of the
        corpus, so the measured passes run the same plans with their code
        already generated."""
        from renard_spark import corpus, pipeline

        path = os.path.join(os.path.dirname(self.docs_path), "warm")
        pdf = corpus.generate_documents_pdf(WARM_DOCS, seed=GEN_SEED,
                                            start=self.blocks[0] * BLOCK)
        spark.createDataFrame(pdf, corpus.DOCUMENTS_SCHEMA).write.mode(
            "overwrite").parquet(path)
        out = pipeline.character_graph_pipeline(spark.read.parquet(path),
                                                dist=DIST)
        out["triples"].write.format("noop").mode("overwrite").save()
        for df in out.values():
            if df.is_cached:
                df.unpersist()

    def run_pass(self, spark, tracer) -> dict:
        """One pipeline pass; the triple digest is checked untimed, from
        the triples the pass cached on its way to the sink."""
        from renard_spark import pipeline

        with Clock() as clock, traced_layers(tracer):
            out = pipeline.character_graph_pipeline(
                spark.read.parquet(self.docs_path), dist=DIST)
            triples = out["triples"].persist()
            triples.write.format("noop").mode("overwrite").save()
        got = triple_digest(triples)
        triples.unpersist()
        rec = {"ops": 1, "failed": int(got != self.want),
               "pass_s": clock.wall, "latencies": [clock.wall],
               "cpu": [clock.cpu], "triples": got}
        if tracer.enabled:
            from pyspark.sql import functions as F

            rec["tokens"] = out["sentence_tokens"].agg(
                F.sum(F.col("sent_end") - F.col("sent_start"))).first()[0]
        for df in out.values():
            if df.is_cached:
                df.unpersist()
        tracer.release()
        return rec

    def throughput(self, passes: list[dict], key: str) -> float:
        """Documents per second of the passes' `key` times ("latencies":
        wall, "cpu": CPU of the process tree)."""
        return self.n_docs * len(passes) / sum(p[key][0] for p in passes)

    def report(self, passes: list[dict]) -> dict:
        return {"docs": self.n_docs, "blocks": self.blocks,
                "triples": {"want": self.want, "got": passes[-1]["triples"]}}

    def layer_extras(self, passes, traced, tracer) -> dict:
        rows = {}
        for rec in tracer.spans:
            rows.setdefault(rec["name"], rec["rows"])
        return {
            "ner.mentions_per_token": rows["ner"] / traced["tokens"],
            "cooccur.edges_per_mention": rows["cooccur"] / rows["unify"],
        }


def main() -> None:
    """Regenerate build_pinned.tsv: one pipeline run over the whole
    universe, triple digests per block."""
    import machine

    machine.configure()
    from renard_spark import pipeline

    spark = machine.start_session()
    try:
        docs = os.path.join(machine.WORK, "pinned", "documents")
        write_corpus(spark, list(range(UNIVERSE_BLOCKS)), docs)
        digests = block_digests(pipeline.character_graph_pipeline(
            spark.read.parquet(docs), dist=DIST)["triples"])
    finally:
        machine.stop_jvm()
    write_pinned(PINNED, digests, UNIVERSE_BLOCKS)


if __name__ == "__main__":
    main()
