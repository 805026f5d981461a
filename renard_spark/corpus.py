"""Deterministic synthetic corpus of interleaved text + media documents.

Produces the input shape required by the engine (BASELINE.json input_hint):

    documents(doc_id: string,
              spans: array<struct<kind:string, text:string,
                                  media_ref:string, offset:int>>)

The text is a templated narrative over a fixed cast of characters (the
shape of the reference's bundled-novel corpus,
/root/reference/renard/resources/novels/novels.py:11-25), engineered so
that every character-unification rule
(/root/reference/renard/pipeline/character_unification.py:242-282) fires:
full names, bare first names, titled last names, nicknames
(hypocorisms), shared last names (contradiction pass), pronouns (coref),
and quoted speech (quote detection / conversational graphs).

Generation is deterministic **per doc_id** (seeded by ``seed * P + doc_id``)
so it can run distributed as one batch step over ``spark.range(n)`` —
no driver-side document loop, arbitrarily scalable, reproducible at any
parallelism.
"""

from __future__ import annotations

import random

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from renard_spark.operators.utils import map_batches

# ---------------------------------------------------------------- cast

# (first, last, gender, nicknames). Names are public-domain flavored.
CAST = [
    ("Elizabeth", "Bennet", "female", ["Lizzy", "Eliza"]),
    ("Jane", "Bennet", "female", []),
    ("Lydia", "Bennet", "female", []),
    ("Fitzwilliam", "Darcy", "male", []),
    ("Charles", "Bingley", "male", ["Charlie"]),
    ("William", "Collins", "male", ["Bill", "Will"]),
    ("Charlotte", "Lucas", "female", ["Lottie"]),
    ("George", "Wickham", "male", []),
    ("Catherine", "Bourgh", "female", ["Kitty", "Cathy"]),
    ("Edward", "Gardiner", "male", ["Ned", "Ted"]),
]

TITLES = {"male": ["Mr", "Sir", "Dr"], "female": ["Mrs", "Miss", "Lady"]}
PRONOUNS = {"male": "He", "female": "She"}

POSITIVE = ["delightful", "charming", "wonderful", "agreeable", "happy"]
NEGATIVE = ["dreadful", "horrid", "miserable", "odious", "unhappy"]

# templates: {A}/{B} are name slots, {P} a pronoun for the previous
# subject (coref fodder), {adj} a polarity word, {q} a quoted clause.
_TEMPLATES = [
    "{A} talked with {B} about the letter.",
    "{A} and {B} walked to the village together.",
    "{A} found the evening {adj} and said so to {B}.",
    '"{q}" said {A} to {B}.',
    '"{q}" replied {B}.',
    '"Pray give my regards to {B}" said {A}.',
    "{A} wrote to {B} at once.",
    "{P} was {adj} to see {B} again.",
    "{A} danced twice with {B}.",
    "{A} smiled at the thought.",
    "The carriage arrived late in the afternoon.",
    "{A} considered the matter settled.",
    "{P} thought the news {adj}.",
]

_QUOTES = [
    "You must come to the ball",
    "I am most seriously displeased",
    "What a {adj} morning it is",
    "Pray tell me everything",
    "I shall never agree to it",
]

_SEED_P = 1_000_003


def name_forms(first: str, last: str, gender: str, nicks: list[str]) -> list[str]:
    forms = [f"{first} {last}", first, f"{TITLES[gender][0]} {last}"]
    forms.extend(nicks)
    return forms


def _gen_sentences(rng: random.Random, n_sent: int) -> tuple[list[str], str]:
    """Generate n_sent sentences; returns (sentences, last_subject_gender)."""
    sents: list[str] = []
    # pick a sub-cast for the doc so different docs have different graphs
    sub = rng.sample(CAST, k=rng.randint(3, min(6, len(CAST))))
    prev_subj = sub[0]
    for _ in range(n_sent):
        tpl = rng.choice(_TEMPLATES)
        a = rng.choice(sub)
        b = rng.choice([c for c in sub if c is not a])
        adj = rng.choice(POSITIVE if rng.random() < 0.5 else NEGATIVE)
        q = rng.choice(_QUOTES).format(adj=adj)
        a_form = rng.choice(name_forms(*a))
        b_form = rng.choice(name_forms(*b))
        s = tpl.format(
            A=a_form, B=b_form, P=PRONOUNS[prev_subj[2]], adj=adj, q=q
        )
        if "{A}" not in tpl and "{P}" not in tpl:
            pass
        else:
            prev_subj = a if "{A}" in tpl else prev_subj
        sents.append(s)
    return sents, prev_subj[2]


def gen_doc_spans(doc_key: int, seed: int = 13, media_rate: float = 0.25,
                  min_sent: int = 5, max_sent: int = 60) -> list[dict]:
    """Deterministic span list for one document.

    Text spans carry 1–5 sentences each; media spans (kind image/audio,
    media_ref set, text NULL) are interleaved between text spans at the
    current char offset of the text stream.
    """
    rng = random.Random(seed * _SEED_P + doc_key)
    n_sent = rng.randint(min_sent, max_sent)
    sents, _ = _gen_sentences(rng, n_sent)
    spans: list[dict] = []
    offset = 0
    i = 0
    media_i = 0
    while i < len(sents):
        k = rng.randint(1, 5)
        chunk = " ".join(sents[i : i + k])
        if i > 0:
            chunk = " " + chunk  # join separator belongs to the stream
        spans.append(
            {"kind": "text", "text": chunk, "media_ref": None, "offset": offset}
        )
        offset += len(chunk)
        i += k
        if i < len(sents) and rng.random() < media_rate:
            kind = rng.choice(["image", "audio"])
            spans.append(
                {
                    "kind": kind,
                    "text": None,
                    "media_ref": f"media://{kind}/{doc_key:010d}/{media_i}",
                    "offset": offset,
                }
            )
            media_i += 1
    return spans


SPAN_TYPE = T.StructType(
    [
        T.StructField("kind", T.StringType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("media_ref", T.StringType(), True),
        T.StructField("offset", T.IntegerType(), False),
    ]
)

DOCUMENTS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("spans", T.ArrayType(SPAN_TYPE), False),
    ]
)


def generate_documents_pdf(n_docs: int, seed: int = 13, start: int = 0,
                           **kw) -> pd.DataFrame:
    """Driver-side (small/test) generator → pandas frame of the same shape."""
    rows = []
    for k in range(start, start + n_docs):
        rows.append(
            {
                "doc_id": f"doc_{k:010d}",
                "spans": [
                    (s["kind"], s["text"], s["media_ref"], s["offset"])
                    for s in gen_doc_spans(k, seed=seed, **kw)
                ],
            }
        )
    return pd.DataFrame(rows)


def generate_documents(spark: SparkSession, n_docs: int, seed: int = 13,
                       partitions: int | None = None, **kw) -> DataFrame:
    """Distributed generator: spark.range → one Arrow-batch step
    (``operators.utils.map_batches``), no driver loop."""
    if partitions is None:
        partitions = max(spark.sparkContext.defaultParallelism, 8)

    def step(batches):
        for batch in batches:
            yield [
                (f"doc_{k:010d}", gen_doc_spans(k, seed=seed, **kw))
                for k in batch["id"]
            ]

    return map_batches(
        spark.range(0, n_docs, numPartitions=partitions), step,
        DOCUMENTS_SCHEMA,
    )
