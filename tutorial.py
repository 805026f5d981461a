"""renard_spark tutorial — the Spark-native walk-through of the
reference's onboarding notebook (`renard_tutorial.py` in
CompNet/Renard 0.7.1), step for step:

  static graph → display → extraction-setup tweaks
  (min_appearances, co_occurrences_dist) → graph manipulation
  (density) → GEXF export → dynamic graph → cumulative view →
  dynamic GEXF (Gephi timeline)

The reference runs one document through an in-process pipeline; here
the same stages are DataFrame operators over a document TABLE, so the
identical script scales from this demo corpus to a 10^12-row Iceberg
table by changing nothing but the input DataFrame. Run it with:

    python tutorial.py [--docs 120] [--out /tmp/renard_tutorial]

Every artifact (SVG plots, static + dynamic GEXF) lands in --out.
"""

from __future__ import annotations

import argparse
import os

from pyspark.sql import functions as F

from renard_spark import corpus
from renard_spark.io.gexf import dynamic_edges_to_gexf, edges_to_gexf
from renard_spark.io.svg import plot_graph_to_file
from renard_spark.operators import triples as triples_mod
from renard_spark.pipeline import character_graph_pipeline
from renard_spark.session import get_spark


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--docs", type=int, default=120)
    ap.add_argument("--out", default="/tmp/renard_tutorial")
    args = ap.parse_args()
    os.makedirs(args.out, exist_ok=True)

    spark = get_spark("renard_tutorial")

    # ------------------------------------------------------------------
    # 1. A document table. The reference opens one novel from disk; the
    #    engine's unit of work is a DataFrame of (doc_id, spans) rows —
    #    here the deterministic synthetic corpus, in production
    #    spark.read.table("catalog.documents").
    docs = corpus.generate_documents(spark, args.docs, seed=13)
    print(f"corpus: {docs.count()} interleaved text+media documents")

    # ------------------------------------------------------------------
    # 2. Static character network — tokenization → NER → graph-rules
    #    character unification → sentence co-occurrence edges, the
    #    reference tutorial's first pipeline (its §"Static Graph
    #    Extraction"; co_occurrences_dist=(3, "sentences")).
    out = character_graph_pipeline(docs, dist=(3, "sentences"))
    edges = out["edges"]
    characters = out["characters"]
    print(f"static graph: {characters.count()} characters, "
          f"{edges.count()} edges")
    print("top interactions:")
    edges.orderBy(F.desc("weight"), "src", "dst").show(5, truncate=False)

    # ------------------------------------------------------------------
    # 3. Graph display (reference: out.plot_graph()) — zero-dependency
    #    seeded spring-layout SVG; open it in any browser.
    svg_path = plot_graph_to_file(
        edges, os.path.join(args.out, "static_graph.svg")
    )
    print(f"plot: {svg_path}")

    # ------------------------------------------------------------------
    # 4. Extraction setup (reference §"Extraction Setup"): filter rare
    #    characters with min_appearances, widen the co-occurrence
    #    window — same knobs, same semantics.
    tuned = character_graph_pipeline(
        docs, dist=(10, "sentences"), min_appearances=10
    )
    print(f"tuned graph (min_appearances=10, dist=(10, 'sentences')): "
          f"{tuned['characters'].count()} characters, "
          f"{tuned['edges'].count()} edges")

    # ------------------------------------------------------------------
    # 5. Advanced graph manipulation (reference: nx.density) — the
    #    graph IS a table, so graph math is an aggregation.
    n = tuned["characters"].count()
    m = tuned["edges"].count()
    density = 0.0 if n < 2 else 2.0 * m / (n * (n - 1))
    print(f"graph density: {density:.6f}")

    # ------------------------------------------------------------------
    # 6. Gephi export (reference: out.export_graph_to_gexf).
    gexf_path = os.path.join(args.out, "static_graph.gexf")
    edges_to_gexf(tuned["characters"], tuned["edges"], gexf_path)
    print(f"gexf: {gexf_path}")

    # ------------------------------------------------------------------
    # 7. Dynamic graph (reference §"Extracting a dynamic graph"):
    #    mention-windowed sequential graphs, window of 20 interactions,
    #    no overlap.
    dyn = character_graph_pipeline(
        docs, dist=(20, "sentences"), min_appearances=10,
        dynamic_window=20, dynamic_overlap=0,
    )
    dyn_edges = dyn["edges"]
    n_windows = dyn_edges.select("window_id").distinct().count()
    print(f"dynamic graph: {n_windows} windows, "
          f"{dyn_edges.count()} windowed edges")

    # ------------------------------------------------------------------
    # 8. Cumulative view (reference: plot_graph(cumulative=True)).
    cumulative = triples_mod.cumulative_edges(dyn_edges)
    last = (
        cumulative.agg(F.max("window_id").alias("w")).collect()[0]["w"]
    )
    print("final cumulative snapshot == static graph edge count:",
          cumulative.filter(F.col("window_id") == last).count())

    # ------------------------------------------------------------------
    # 9. Dynamic GEXF with working Gephi timeline (reference: dynamic
    #    export_graph_to_gexf).
    dyn_gexf = os.path.join(args.out, "dynamic_graph.gexf")
    dynamic_edges_to_gexf(dyn_edges, dyn_gexf)
    print(f"dynamic gexf: {dyn_gexf}")

    print("tutorial complete — artifacts in", args.out)


if __name__ == "__main__":
    main()
