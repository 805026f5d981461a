"""NER stage: BIO decode + deterministic taggers (+ pluggable model UDF).

- ``bio_decode``: exact semantics of the reference's ``ner_entities``
  (/root/reference/renard/ner_utils.py:126-180): an entity is closed by
  any non-``I-`` tag; any ``I-`` continues the open entity regardless of
  its type; with ``resolve_inconsistencies`` an ``I-`` with no open
  entity starts one. Expressed with window functions (lag / running
  last / running sum) — fully JVM-side, no UDF, one shuffle on doc_id.

- ``dictionary_ner``: single-token gazetteer tagger (broadcast join).

- ``rule_ner_sentences``: capitalized-run detection per sentence +
  gazetteer lookup of the run's surface form, over the compact
  per-sentence token table. The deterministic stand-in for the
  reference's transformer NER (ner/ner.py:125-308); a model-backed
  tagger plugs in behind the same output schema via ``model_ner``
  (executor-local model singleton).

Output schema (the reference's NEREntity, ner/ner.py:32-49):
    entities(doc_id, start_idx, end_idx, mention_str, tag)
with end_idx exclusive and mention_str = " ".join(tokens).
"""

from __future__ import annotations

import re
from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from renard_spark.operators.utils import cached_model, map_batches

ENTITY_COLS = ["doc_id", "start_idx", "end_idx", "mention_str", "tag"]


def bio_decode(
    bio_df: DataFrame,
    resolve_inconsistencies: bool = True,
    tag_col: str = "bio_tag",
) -> DataFrame:
    """(doc_id, tok_idx, token, bio_tag) → entities."""
    w = Window.partitionBy("doc_id").orderBy("tok_idx")
    tag = F.col(tag_col)
    is_b = tag.startswith("B-")
    is_i = tag.startswith("I-")
    prev = F.lag(tag_col).over(w)
    prev_bi = prev.startswith("B-") | prev.startswith("I-")

    if resolve_inconsistencies:
        member = is_b | is_i
        start = is_b | (is_i & (prev.isNull() | ~prev_bi))
    else:
        # an I- belongs only if the nearest preceding non-I tag is a B-
        last_non_i = F.last(
            F.when(~is_i, tag), ignorenulls=True
        ).over(w.rowsBetween(Window.unboundedPreceding, 0))
        member = is_b | (is_i & last_non_i.startswith("B-"))
        start = is_b

    marked = bio_df.withColumn("_member", member).withColumn(
        "_start", start.cast("int")
    )
    grouped = marked.withColumn(
        "_ent",
        F.sum(F.when(F.col("_member"), F.col("_start")).otherwise(0)).over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    ).filter("_member")
    return (
        grouped.groupBy("doc_id", "_ent")
        .agg(
            F.min("tok_idx").alias("start_idx"),
            (F.max("tok_idx") + 1).alias("end_idx"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("tok_idx", "token"))),
                    lambda s: s["token"],
                ),
                " ",
            ).alias("mention_str"),
            F.substring(F.min_by(tag_col, "tok_idx"), 3, 1 << 30).alias("tag"),
        )
        .select(*ENTITY_COLS)
    )


def dictionary_ner(
    tokens_df: DataFrame, gazetteer: DataFrame | list[str], tag: str = "PER"
) -> DataFrame:
    """Single-token gazetteer tagger. ``gazetteer``: list of surface
    forms (compiled to a literal ``isin`` predicate — fully codegen'd,
    no broadcast build/exchange) or a DataFrame with a ``name`` column
    (broadcast-joined)."""
    sel = (
        "doc_id",
        F.col("tok_idx").alias("start_idx"),
        (F.col("tok_idx") + 1).alias("end_idx"),
        F.col("token").alias("mention_str"),
        F.lit(tag).alias("tag"),
    )
    if isinstance(gazetteer, list):
        # literal membership filter == the equi-join on a distinct name
        # list (both keep exactly the tokens whose surface is in the
        # gazetteer); the filter pushes into the scan-side stage and
        # skips the broadcast exchange + non-codegen ExistingRDD scan
        return tokens_df.filter(
            F.col("token").isin(sorted(set(gazetteer)))
        ).select(*sel)
    return tokens_df.join(
        F.broadcast(gazetteer), tokens_df["token"] == gazetteer["name"]
    ).select(*sel)


def normalize_tags(
    df: DataFrame, mapping: dict[str, str], tag_col: str = "bio_tag"
) -> DataFrame:
    """Tag normalization (e.g. B-PERSON→B-PER), reference
    nltk_utils.py:25-40 — one map lookup, JVM-side."""
    m = F.create_map(*[F.lit(x) for kv in mapping.items() for x in kv])
    return df.withColumn(tag_col, F.coalesce(m[F.col(tag_col)], F.col(tag_col)))


# --------------------------------------------------------------------
# Transformer NER inference (reference BertNamedEntityRecognizer,
# ner/ner.py:125-308): per-sentence batched prediction, wordpiece→token
# realignment, context-mask handling, BIO decode. The model itself is
# an injected callable so the whole post-processing path is pure logic,
# unit-testable without torch; production plugs in ``hf_ner_model``.
#
# Model contract — predict(batch: list[list[str]]) returns, per
# sentence, a triple:
#   wp_labels : list[str]        — one BIO label per WORDPIECE
#   wp_to_word: list[int | None] — wordpiece → word index (None for
#                                  special tokens like [CLS]/[SEP])
#   ctx_mask  : list[int]        — per WORD: 0 = retrieved context
#                                  word (discarded), 1 = inference word
# --------------------------------------------------------------------


def realign_wordpiece_labels(
    wp_labels: list[str],
    wp_to_word: list[int | None],
    ctx_mask: list[int],
    n_tokens: int,
    strict: bool = True,
) -> list[str]:
    """Wordpiece→token label realignment — exact semantics of the
    reference's ``batch_labels`` (ner/ner.py:266-299): start from all
    "O"; the inference window begins at the first 1 in the context
    mask; each wordpiece writes its label onto its word (so the LAST
    wordpiece of a word wins); context words and special tokens are
    skipped.

    ``strict=True`` is parity-faithful: inconsistent model output
    (word indexes outside the mask/sentence) raises like the reference
    does. ``strict=False`` is the production mode — out-of-range
    writes from one bad model answer are dropped instead of killing
    the whole Arrow task; the count of dropped writes is appended to
    ``realign_dropped`` for job-level monitoring."""
    labels = ["O"] * n_tokens
    cm = list(ctx_mask)
    try:
        inference_start = cm.index(1)
    except ValueError:
        inference_start = 0
    dropped = 0
    for j, lab in enumerate(wp_labels):
        ti = wp_to_word[j]
        if ti is None:
            continue
        if strict:
            if cm[ti] == 0:
                continue
            labels[ti - inference_start] = lab
            continue
        if ti < 0 or ti >= len(cm) or cm[ti] == 0:
            if ti is not None and (ti < 0 or ti >= len(cm)):
                dropped += 1
            continue
        pos = ti - inference_start
        if 0 <= pos < n_tokens:
            labels[pos] = lab
        else:
            dropped += 1
    if dropped:
        realign_dropped.append(dropped)
    return labels


# per-task counter of clamped writes in strict=False mode (executor-
# local; surface via logs/metrics in production)
realign_dropped: list[int] = []


def hf_ner_model(model_path: str, max_length: int = 512):
    """Default model factory: a HuggingFace token-classification
    checkpoint (reference LANG_TO_MODELS, ner/ner.py:128-131). Import-
    gated — torch/transformers are absent in this container, so this is
    the one honest integration seam; everything downstream of
    ``predict`` is exercised by tests with an injected fake."""
    try:  # pragma: no cover - sandbox has no torch
        import torch
        from transformers import (
            AutoModelForTokenClassification,
            AutoTokenizer,
        )
    except ImportError as e:
        raise ImportError(
            "hf_ner_model needs torch+transformers; install them and "
            f"point model_path at a token-classification checkpoint "
            f"(got {model_path!r})"
        ) from e

    tok = AutoTokenizer.from_pretrained(model_path)  # pragma: no cover
    model = AutoModelForTokenClassification.from_pretrained(  # pragma: no cover
        model_path
    ).eval()
    id2label = model.config.id2label  # pragma: no cover

    def predict(batch):  # pragma: no cover - needs torch
        enc = tok(
            batch, is_split_into_words=True, padding=True,
            truncation=True, max_length=max_length, return_tensors="pt",
        )
        with torch.no_grad():
            out = model(enc["input_ids"], attention_mask=enc["attention_mask"])
        ids = out.logits.argmax(dim=2)
        res = []
        for i, sent in enumerate(batch):
            wp_labels = [id2label[int(x)] for x in ids[i]]
            wp_to_word = [enc.token_to_word(i, j) for j in range(len(wp_labels))]
            res.append((wp_labels, wp_to_word, [1] * len(sent)))
        return res

    return predict  # pragma: no cover


def model_ner(
    sent_tokens_df: DataFrame,
    model_factory,
    batch_size: int = 4,
    resolve_inconsistencies: bool = True,
    cache_key: str | None = None,
    strict_realign: bool = True,
) -> DataFrame:
    """Model-backed NER over the compact per-sentence form
    (doc_id, sent_start, toks) → entities, same schema as the rule
    taggers.

    Mirrors the reference's inference loop (ner/ner.py:212-264):
    sentences are micro-batched ``batch_size`` at a time inside each
    Arrow batch, the model predicts wordpiece labels, labels are
    realigned to words (``realign_wordpiece_labels``), and the
    per-document label stream feeds the same BIO decode as every other
    tagger. ``model_factory`` is a zero-arg callable returning the
    ``predict`` function; pass ``cache_key`` (e.g. the model path) to
    memoize the loaded model per executor worker.
    """

    def step(batches):
        predict = cached_model("ner", cache_key, model_factory)
        for batch in batches:
            rows = []
            sents = batch["toks"]
            metas = list(zip(batch["doc_id"], batch["sent_start"]))
            for off in range(0, len(sents), batch_size):
                chunk = sents[off:off + batch_size]
                preds = predict(chunk)
                for (doc_id, s0), toks_, (wpl, w2w, cm) in zip(
                    metas[off:off + batch_size], chunk, preds
                ):
                    labels = realign_wordpiece_labels(
                        wpl, w2w, cm, len(toks_), strict=strict_realign
                    )
                    for i, (t, lab) in enumerate(zip(toks_, labels)):
                        rows.append((doc_id, s0 + i, t, lab))
            yield rows

    tagged = map_batches(
        sent_tokens_df.select("doc_id", "sent_start", "toks"), step,
        "doc_id string, tok_idx int, token string, bio_tag string",
    )
    return bio_decode(tagged, resolve_inconsistencies)


CAP_TOKEN_RE = r"^[A-Z][a-z']*$"
_CAP_TOKEN = re.compile(CAP_TOKEN_RE)


def gazetteer_runs(
    toks: Sequence[str], gazetteer: set[str], offset: int = 0
) -> list[tuple[str, int, int]]:
    """(surface, start_idx, end_idx) of every maximal run of capitalized
    tokens of one sentence whose joined surface is in ``gazetteer``;
    indices are ``offset`` + position, end exclusive. The per-sentence
    scan of ``rule_ner_sentences`` and of the one-crossing
    co-occurrence path (``cooccur.cooccurrence_edges_grouped``)."""
    match = _CAP_TOKEN.match
    out = []
    n = len(toks)
    i = 0
    while i < n:
        if match(toks[i]):
            j = i + 1
            while j < n and match(toks[j]):
                j += 1
            surface = " ".join(toks[i:j])
            if surface in gazetteer:
                out.append((surface, offset + i, offset + j))
            i = j
        else:
            i += 1
    return out


def rule_ner_sentences(
    sent_tokens_df: DataFrame,
    surface_gazetteer: list[str] | set[str],
    tag: str = "PER",
) -> DataFrame:
    """Capitalized-run + gazetteer tagger over the compact per-sentence
    form (doc_id, sent_idx, sent_start, toks), zero shuffles.

    Maximal runs of capitalized tokens whose joined surface form is in
    the gazetteer become entities. Runs never cross sentence boundaries
    (the terminal punctuation token breaks them), so run detection is
    sentence-local: one Arrow-batched step (``utils.map_batches``),
    gazetteer broadcast in the closure. Checked against a sequential
    whole-document oracle (``tests/oracle.py:rule_ner_oracle``)."""
    gaz = set(surface_gazetteer)

    def step(batches):
        for batch in batches:
            yield [
                (doc_id, s, e, surface)
                for doc_id, off, toks in zip(
                    batch["doc_id"], batch["sent_start"], batch["toks"])
                for surface, s, e in gazetteer_runs(toks, gaz, off)
            ]

    out = map_batches(
        sent_tokens_df.select("doc_id", "sent_start", "toks"), step,
        "doc_id string, start_idx int, end_idx int, mention_str string",
    )
    return out.withColumn("tag", F.lit(tag))
