"""Tokenizer parity: the JVM (Java-regex) tokenizer must agree with the
independent Python-regex implementation, and tokens == flatten(sentences)
(mirrors reference tests/test_tokenization.py:20-26)."""

import random
import string

from renard_spark import corpus
from renard_spark.operators import tokenize
from renard_spark.sources import ingest


def test_spark_tokens_match_python_oracle(spark):
    docs_pdf = corpus.generate_documents_pdf(12, seed=7)
    docs = ingest.normalize_documents(
        spark.createDataFrame(docs_pdf, schema=corpus.DOCUMENTS_SCHEMA)
    )
    got = (
        tokenize.tokens(docs)
        .orderBy("doc_id", "tok_idx")
        .select("doc_id", "tok_idx", "sent_idx", "token")
        .collect()
    )
    by_doc = {}
    for r in got:
        by_doc.setdefault(r.doc_id, []).append((r.tok_idx, r.sent_idx, r.token))

    texts = docs.select("doc_id", "text").collect()
    assert len(texts) == 12
    for row in texts:
        toks, sent_of, _ = tokenize.tokenize_text_py(row.text)
        expected = [(i, s, t) for i, (t, s) in enumerate(zip(toks, sent_of))]
        assert by_doc[row.doc_id] == expected, row.doc_id


def test_tokens_flatten_sentences(spark):
    docs_pdf = corpus.generate_documents_pdf(5, seed=3)
    docs = ingest.normalize_documents(
        spark.createDataFrame(docs_pdf, schema=corpus.DOCUMENTS_SCHEMA)
    )
    toks = tokenize.tokens(docs)
    # global token index must be dense 0..n-1 per doc and ordered by
    # (sent_idx, tok_in_sent)
    rows = toks.orderBy("doc_id", "sent_idx", "tok_in_sent").collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r.tok_idx)
    for doc, idxs in by_doc.items():
        assert idxs == list(range(len(idxs))), doc


def test_media_spans_carried_and_lineage_exact(spark):
    docs_pdf = corpus.generate_documents_pdf(10, seed=11, media_rate=0.5)
    df = spark.createDataFrame(docs_pdf, schema=corpus.DOCUMENTS_SCHEMA)
    docs = ingest.normalize_documents(df)
    lin = ingest.span_lineage(docs).collect()
    orig = {r["doc_id"]: r["spans"] for r in df.collect()}
    assert len(lin) == 10
    for r in lin:
        inp = orig[r.doc_id]
        # per-row invariant: (kind, text, media_ref, order) equality
        got = [(s.kind, s.text, s.media_ref, s.order) for s in r.spans_seq]
        want = [(s.kind, s.text, s.media_ref, i) for i, s in enumerate(inp)]
        assert got == want
    med = ingest.media_spans(docs)
    n_media = sum(1 for spans in orig.values() for s in spans if s.kind != "text")
    assert med.count() == n_media


def test_span_tokens_equals_whole_doc_tokens(spark):
    # span-parallel tokenization must be row-for-row identical to the
    # whole-text path on interleaved docs whose span boundaries fall at
    # sentence breaks (corpus.gen_doc_spans guarantees that shape)
    from renard_spark import corpus
    from renard_spark.sources import ingest

    docs = corpus.generate_documents(spark, 40, seed=29)
    whole = tokenize.tokens(ingest.normalize_documents(docs))
    by_span = tokenize.span_tokens(docs)
    cols = ["doc_id", "sent_idx", "tok_idx", "tok_in_sent", "token"]
    a = sorted(tuple(r) for r in whole.select(*cols).collect())
    b = sorted(tuple(r) for r in by_span.select(*cols).collect())
    assert a == b and len(a) > 0


def test_span_tokens_distributes_giant_doc(spark):
    # one synthetic giant document: the span path must emit one row per
    # text span BEFORE the regexp pass (the skew fix), and still index
    # tokens globally
    spans = []
    off = 0
    for i in range(50):
        t = ("word%d " % i) * 20
        t = t.strip() + "."
        if i > 0:
            t = " " + t
        spans.append(("text", t, None, off))
        off += len(t)
    df = spark.createDataFrame(
        [("g1", spans)],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    )
    out = tokenize.span_tokens(df).collect()
    assert len(out) == 50 * 21  # 20 words + final '.' per span-sentence
    by_idx = {r.tok_idx: r for r in out}
    assert by_idx[0].token == "word0" and by_idx[0].sent_idx == 0
    last = max(by_idx)
    assert by_idx[last].token == "." and by_idx[last].sent_idx == 49


def test_span_tokens_random_sentence_boundary_splits(spark):
    # property: ANY partition of a document's sentence sequence into
    # spans (the interleaved-document shape) tokenizes identically to
    # the whole-text path — randomized over texts AND split points
    import random

    from renard_spark.sources import ingest

    rng = random.Random(404)
    words = ["alpha", "beta", "gamma", "delta", "x1", "don't", "big"]
    rows = []
    for d in range(30):
        n_sent = rng.randint(1, 12)
        sents = [
            " ".join(rng.choice(words) for _ in range(rng.randint(1, 9)))
            + rng.choice([".", "!", "?"])
            for _ in range(n_sent)
        ]
        spans, i = [], 0
        off = 0
        while i < len(sents):
            k = rng.randint(1, 4)
            chunk = " ".join(sents[i : i + k])
            if i > 0:
                chunk = " " + chunk
            spans.append(("text", chunk, None, off))
            off += len(chunk)
            i += k
        rows.append((f"d{d}", spans))
    df = spark.createDataFrame(
        rows,
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    )
    cols = ["doc_id", "sent_idx", "tok_idx", "tok_in_sent", "token"]
    a = sorted(
        tuple(r)
        for r in tokenize.tokens(ingest.normalize_documents(df))
        .select(*cols)
        .collect()
    )
    b = sorted(
        tuple(r) for r in tokenize.span_tokens(df).select(*cols).collect()
    )
    assert a == b and len(a) > 0


# Java's \s is these six; the rest of the alphabet's whitespace is
# Unicode-only, so the JVM tokenizer keeps it inside sentences as tokens
_JAVA_SPACE = " \t\n\x0b\f\r"
_ADVERSARIAL = (
    string.ascii_letters + string.digits + "_'.!?" + _JAVA_SPACE
    + "\xa0\u0085\u2028\u3000" + "éÀßøÑþ\u0301中文字²½"
)


def test_python_tokenizer_equals_jvm(spark):
    """The Python dialect (``sentence_tokens_py``, ``tokenize_text_py``)
    equals the JVM one (``sentence_token_arrays``, behind the stored
    ``sentence_tokens`` stage) on seeded texts over an adversarial
    alphabet: ASCII word characters and terminals, every Java
    whitespace character, Unicode-only whitespace (NBSP, NEL, U+2028,
    U+3000), Latin-1 letters, a combining mark, CJK, ``²`` and ``½``.

    Caveat: JDK 17's regex classes follow Unicode 13 and Python 3.11's
    ``re`` Unicode 14, so a code point added in Unicode 14 may be a
    letter to one and not the other; the alphabet holds none."""
    rng = random.Random(41)
    texts = ["", " ", "\t", "\xa0", ". \t. x", "Hi.\x0bBob. \u3000 Ann!"] + [
        "".join(rng.choice(_ADVERSARIAL) for _ in range(rng.randint(0, 80)))
        for _ in range(600)
    ]
    df = spark.createDataFrame(list(enumerate(texts)), "i int, t string")
    jvm = {
        r.i: [list(s) for s in r.s]
        for r in df.select(
            "i", tokenize.sentence_token_arrays("t").alias("s")
        ).collect()
    }
    n_sents = 0
    for i, text in enumerate(texts):
        sents = tokenize.sentence_tokens_py(text)
        assert sents == jvm[i], repr(text)
        toks, sent_of, offsets = tokenize.tokenize_text_py(text)
        assert toks == [t for s in sents for t in s], repr(text)
        assert sent_of == [k for k, s in enumerate(sents) for _ in s]
        assert [text[a:b] for a, b in offsets] == toks
        n_sents += len(sents)
    assert n_sents > len(texts)


def test_tokens_with_offsets_equals_tokens_on_unicode_space(spark):
    """The char-offset tokenizer gives the stored token stage's
    sentences and token indices on texts whose whitespace Java's ``\\s``
    does not match (it stays a token), so media links address the
    right characters."""
    texts = [
        "Hi.\xa0Bob met Ann. Then they left.",
        "Hi.\u2028Bob met Ann. Then they left.",
        "Hi.\u3000Bob met Ann.\u3000Then they left.",
        "Jo\xa0Ann smiled.",
        "Hi.\x0bBob left. \t. Ann stayed",
    ]
    docs = spark.createDataFrame(
        [(f"d{i}", t) for i, t in enumerate(texts)], "doc_id string, text string"
    )
    cols = ["doc_id", "sent_idx", "tok_idx", "token"]
    want = sorted(tuple(r) for r in tokenize.tokens(docs).select(*cols).collect())
    offsets = tokenize.tokens_with_offsets(docs).collect()
    assert sorted(tuple(r[c] for c in cols) for r in offsets) == want
    for r in offsets:
        assert texts[int(r.doc_id[1:])][r.char_start:r.char_end] == r.token


def test_join_text_spans_equals_normalize_documents(spark):
    """``ingest.join_text_spans``, the Arrow span join of the one-crossing
    co-occurrence path, gives ``normalize_documents``' text on every
    span shape, with the documents spread over several Arrow batches."""
    import pyarrow as pa

    span = corpus.SPAN_TYPE.simpleString().replace("not null", "")
    rows = [
        ("null_spans", None),
        ("empty", []),
        ("media_only", [("image", None, "img/1", 0), ("audio", None, "a/1", 0)]),
        ("null_kind", [(None, "lost ", None, 0), ("text", "kept", None, 5)]),
        ("null_text", [("text", "a ", None, 0), ("text", None, None, 2),
                       ("text", "b", None, 2)]),
        ("around_media", [("text", "Before. ", None, 0),
                          ("image", None, "img/2", 8),
                          ("text", "After.", None, 8)]),
        ("null_span", [None, ("text", "x", None, 0)]),
    ]
    pdf = corpus.generate_documents_pdf(20, seed=5, media_rate=0.5)
    rows += list(zip(pdf["doc_id"], pdf["spans"]))
    df = spark.createDataFrame(
        rows, f"doc_id string, spans array<{span}>"
    ).coalesce(1)

    def run(batches):
        for b in batches:
            yield pa.RecordBatch.from_arrays(
                [b.column(0), ingest.join_text_spans(b.column(1)),
                 pa.array([b.num_rows] * b.num_rows, pa.int32())],
                names=["doc_id", "text", "batch_rows"],
            )

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    saved = spark.conf.get(key)
    spark.conf.set(key, "3")
    try:
        got = df.mapInArrow(
            run, "doc_id string, text string, batch_rows int"
        ).collect()
    finally:
        spark.conf.set(key, saved)
    want = {r.doc_id: r.text for r in
            ingest.normalize_documents(df).select("doc_id", "text").collect()}
    assert {r.doc_id: r.text for r in got} == want
    assert len(got) == len(rows) and max(r.batch_rows for r in got) <= 3
    assert want["null_spans"] is None and want["media_only"] == ""
