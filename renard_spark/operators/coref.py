"""Rule-based coreference — the deterministic test-path resolver.

The reference's coref steps are neural (corefs/corefs.py:13-322); the
engine ships a pronoun→nearest-preceding-PER-mention resolver with the
same output shape so unification's coref features (gender vote, chain
assignment, link_corefs rule) are exercised deterministically. A
model-backed resolver plugs in behind the same schema.

Chains: all entity mentions sharing a surface form in a doc form one
chain; each pronoun within `max_dist` tokens after a mention joins the
chain of the nearest preceding mention. Implemented with one running
"last non-null" window over the merged (mention ∪ pronoun) stream —
JVM-side, no UDF.

Output: corefs(doc_id, chain_id, start_idx, end_idx, mention_str)
(the reference's List[List[Mention]], core.py:187-188, exploded).
Contiguous spans only, mirroring the contiguity filter
(corefs/corefs.py:290-299).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from renard_spark.operators.utils import cached_model, map_batches
from renard_spark.resources.gazetteers import FEMALE_PRONOUNS, MALE_PRONOUNS

COREFS_SCHEMA = ("doc_id string, chain_id int, start_idx int, end_idx int,"
                 " mention_str string")

# A coref *scorer* is the injectable model seam (the reference's tibert
# predict call, corefs/corefs.py:97-132): given a batch of token blocks
# it returns, per block, a list of chains, each chain a list of
# (start, end) token spans RELATIVE to the block (end exclusive).
# Everything around the scorer — 512-token block split, per-block
# prediction, cross-block chain concatenation or merging, canonical
# chain ids — is pure logic below, unit-testable without torch.

Span = tuple[int, int]
Chain = list[Span]


def split_blocks(tokens: list[str], block_size: int) -> list[tuple[int, list[str]]]:
    """Fixed-size token blocks [(block_start, block_tokens), ...] —
    the reference's list-comprehension split (corefs/corefs.py:101-104).
    An empty token list yields ZERO blocks (``range(0, 0, bs)`` in the
    reference), so injected scorers never see an empty block."""
    return [
        (s, tokens[s : s + block_size])
        for s in range(0, len(tokens), block_size)
    ]


def concat_block_chains(
    block_chains: list[list[Chain]], block_starts: list[int]
) -> list[Chain]:
    """Cross-block chain CONCATENATION — the semantics of tibert's
    ``CoreferenceDocument.concatenated`` used by the reference's
    non-hierarchical path (corefs/corefs.py:118-132): each block's
    chains are offset by the block start and the chain lists are
    concatenated; chains never merge across blocks."""
    out: list[Chain] = []
    for chains, off in zip(block_chains, block_starts):
        for chain in chains:
            out.append([(s + off, e + off) for s, e in chain])
    return out


def merge_chains_by_surface(
    chains: list[Chain], tokens: list[str]
) -> list[Chain]:
    """Deterministic stand-in for the reference's model-driven
    hierarchical merging (corefs/corefs.py:106-116, tibert
    ``hierarchical_merging=True``): chains from different blocks merge
    when they share an identical mention surface form. Union-find over
    chains keyed by surface; mentions deduped and re-sorted."""
    parent = list(range(len(chains)))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    by_surface: dict[str, int] = {}
    for i, chain in enumerate(chains):
        for s, e in chain:
            surf = " ".join(tokens[s:e])
            if surf in by_surface:
                ra, rb = find(i), find(by_surface[surf])
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
            else:
                by_surface[surf] = i
    groups: dict[int, set[Span]] = {}
    for i, chain in enumerate(chains):
        groups.setdefault(find(i), set()).update(chain)
    return [sorted(g) for _, g in sorted(groups.items())]


def resolve_doc_corefs(
    tokens: list[str],
    scorer,
    block_size: int = 512,
    hierarchical_merging: bool = False,
) -> list[Chain]:
    """One document through the reference's block loop: split → score
    per block (scorer handles its own batching) → concatenate or
    merge. Chains are returned sorted by (first span, ...) — the
    canonical order chain ids are assigned in."""
    if not tokens:
        return []
    blocks = split_blocks(tokens, block_size)
    starts = [s for s, _ in blocks]
    per_block = scorer([b for _, b in blocks])
    chains = concat_block_chains(per_block, starts)
    if hierarchical_merging:
        chains = merge_chains_by_surface(chains, tokens)
    return sorted([sorted(c) for c in chains if c])


def make_rule_scorer(
    surfaces: set[str], max_dist: int = 30, lang: str = "eng"
):
    """The rule resolver as ONE scorer instance: single-token gazetteer
    mentions form a chain per surface; each pronoun within ``max_dist``
    tokens after the nearest preceding mention joins that mention's
    chain. Same semantics as the DataFrame-native ``rule_corefs``
    (property-tested equal when chains don't straddle blocks)."""
    pronouns = {p.lower() for p in MALE_PRONOUNS[lang] | FEMALE_PRONOUNS[lang]}

    def scorer(blocks: list[list[str]]) -> list[list[Chain]]:
        out = []
        for toks in blocks:
            chains: dict[str, Chain] = {}
            last: tuple[str, int] | None = None  # (surface, end)
            for i, t in enumerate(toks):
                if t in surfaces:
                    chains.setdefault(t, []).append((i, i + 1))
                    last = (t, i + 1)
                elif (
                    t.lower() in pronouns
                    and last is not None
                    and i - last[1] <= max_dist
                ):
                    chains[last[0]].append((i, i + 1))
            out.append([chains[k] for k in sorted(chains)])
        return out

    return scorer


def _map_chains(
    doc_tokens_df: DataFrame, cols: list[str], namespace: str,
    scorer_factory, cache_key: str | None, resolve,
) -> DataFrame:
    """The model resolvers' one crossing: per document,
    ``resolve(tokens, scorer, *extra)`` over the rows of ``cols``
    (doc_id, tokens, *extra) → its chains, emitted as ``COREFS_SCHEMA``
    rows with canonical chain ids (chain order). The scorer is loaded
    once per task through ``cached_model(namespace, cache_key, ...)``."""

    def step(batches):
        scorer = cached_model(namespace, cache_key, scorer_factory)
        for batch in batches:
            yield [
                (doc_id, cid, s, e, " ".join(toks[s:e]))
                for doc_id, toks, *extra in zip(*(batch[c] for c in cols))
                for cid, chain in enumerate(resolve(toks, scorer, *extra))
                for s, e in chain
            ]

    return map_batches(doc_tokens_df.select(*cols), step, COREFS_SCHEMA)


def model_corefs(
    doc_tokens_df: DataFrame,
    scorer_factory,
    block_size: int = 512,
    hierarchical_merging: bool = False,
    cache_key: str | None = None,
) -> DataFrame:
    """Model-backed coreference over (doc_id, tokens array<string>) —
    the reference's BertCoreferenceResolver loop (corefs/corefs.py:
    97-132) as an Arrow-batched operator: per doc, 512-token block
    split, scorer prediction per block, chain concatenation (or the
    hierarchical merge), canonical chain ids.

    → corefs(doc_id, chain_id, start_idx, end_idx, mention_str), the
    same schema as ``rule_corefs``. ``scorer_factory`` is a zero-arg
    callable returning the scorer; ``cache_key`` memoizes it per
    executor worker (model singleton).
    """
    return _map_chains(
        doc_tokens_df, ["doc_id", "tokens"], "coref", scorer_factory,
        cache_key,
        lambda toks, scorer: resolve_doc_corefs(
            toks, scorer, block_size, hierarchical_merging),
    )


def rule_corefs(
    tokens_df: DataFrame,
    entities_df: DataFrame,
    character_tag: str = "PER",
    max_dist: int = 30,
    lang: str = "eng",
) -> DataFrame:
    pronouns = sorted(MALE_PRONOUNS[lang] | FEMALE_PRONOUNS[lang])

    ents = entities_df.filter(F.col("tag") == character_tag)
    # chain id = dense rank of surface form within doc (canonical order)
    wchain = Window.partitionBy("doc_id").orderBy("mention_str")
    chain_ids = (
        ents.select("doc_id", "mention_str")
        .distinct()
        .withColumn("chain_id", F.dense_rank().over(wchain) - 1)
    )
    ment = ents.join(chain_ids, ["doc_id", "mention_str"]).select(
        "doc_id", "chain_id", "start_idx", "end_idx", "mention_str"
    )

    pron = tokens_df.filter(F.lower(F.col("token")).isin(pronouns)).select(
        "doc_id",
        F.col("tok_idx").alias("start_idx"),
        (F.col("tok_idx") + 1).alias("end_idx"),
        F.col("token").alias("mention_str"),
    )

    stream = ment.select(
        "doc_id", "start_idx", "end_idx", "mention_str",
        F.col("chain_id").alias("_chain"),
        F.lit(1).alias("_is_mention"),
    ).unionByName(
        pron.select(
            "doc_id", "start_idx", "end_idx", "mention_str",
            F.lit(None).cast("int").alias("_chain"),
            F.lit(0).alias("_is_mention"),
        )
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("start_idx", F.col("_is_mention").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    resolved = (
        stream.withColumn("_last_chain", F.last("_chain", ignorenulls=True).over(w))
        .withColumn(
            "_last_end",
            F.last(
                F.when(F.col("_is_mention") == 1, F.col("end_idx")),
                ignorenulls=True,
            ).over(w),
        )
    )
    keep = resolved.filter(
        (F.col("_is_mention") == 1)
        | (
            F.col("_last_chain").isNotNull()
            & (F.col("start_idx") - F.col("_last_end") <= max_dist)
        )
    )
    return keep.select(
        "doc_id",
        F.col("_last_chain").alias("chain_id"),
        "start_idx",
        "end_idx",
        "mention_str",
    ).filter(F.col("chain_id").isNotNull())


# -- SpacyCoreferee variant (corefs/corefs.py:154-322) ----------------
# The coreferee resolver differs from the tibert block path in three
# observable ways, all replicated here as pure logic around an
# injectable chunk scorer (the spacy+coreferee model itself is the
# seam — not installable in this sandbox):
#   1. chunking: per-dynamic-block when >1 block, else the whole token
#      list, cut into max_chunk_size (default 10k) pieces; the global
#      offset accumulates across ALL chunks in order (corefs.py:250-313)
#   2. mentions are TOKEN-INDEX SETS (coreferee returns heads expanded
#      to subtrees), not spans — a chain containing ANY non-contiguous
#      mention is discarded WHOLE (corefs.py:290-303)
#   3. chains never merge across chunks (appended in chunk order)


def cut_into_chunks(
    tokens: list[str], max_chunk_size: int | None
) -> list[list[str]]:
    """corefs.py:229-236 — None means one chunk with everything."""
    if max_chunk_size is None:
        return [tokens]
    return [
        tokens[s : s + max_chunk_size]
        for s in range(0, len(tokens), max_chunk_size)
    ]


def coreferee_doc_corefs(
    tokens: list[str],
    scorer,
    max_chunk_size: int | None = 10_000,
    blocks: list[list[str]] | None = None,
) -> list[Chain]:
    """One document through the coreferee loop. ``scorer(chunks)``
    returns, per chunk, a list of chains; each chain a list of
    mentions; each mention an ORDERED list of token indices relative
    to the chunk (possibly non-contiguous, like subtree expansion)."""
    if blocks and len(blocks) > 1:
        chunks: list[list[str]] = []
        for b in blocks:
            chunks += cut_into_chunks(b, max_chunk_size)
    else:
        chunks = cut_into_chunks(tokens, max_chunk_size)
    per_chunk = scorer(chunks)
    out: list[Chain] = []
    chunk_start = 0
    for chunk_toks, chunk_chains in zip(chunks, per_chunk):
        for chain in chunk_chains:
            cur: Chain = []
            for mention_idxs in chain:
                idxs = list(mention_idxs)
                contiguous = len(idxs) == 1 or all(
                    a == b - 1 for a, b in zip(idxs, idxs[1:])
                )
                if not contiguous:
                    cur = []
                    break
                cur.append(
                    (idxs[0] + chunk_start, idxs[-1] + chunk_start + 1)
                )
            if cur:
                out.append(cur)
        chunk_start += len(chunk_toks)
    return out


def coreferee_corefs(
    doc_tokens_df: DataFrame,
    scorer_factory,
    max_chunk_size: int | None = 10_000,
    blocks_col: str | None = None,
    cache_key: str | None = None,
) -> DataFrame:
    """SpacyCoreferee-style resolver over (doc_id, tokens) [+ optional
    ``blocks_col``: array<array<string>> of dynamic-block tokens] —
    same output schema as ``model_corefs``/``rule_corefs``."""
    cols = ["doc_id", "tokens"] + ([blocks_col] if blocks_col else [])
    return _map_chains(
        doc_tokens_df, cols, "coreferee", scorer_factory, cache_key,
        lambda toks, scorer, blocks=None: coreferee_doc_corefs(
            toks, scorer, max_chunk_size, blocks),
    )
