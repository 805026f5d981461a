"""tutorial.py is the reference-notebook parity artifact (VERDICT r4
item 6) — smoke it end to end on a tiny corpus: it must run, print
the walkthrough, and leave the three artifacts on disk."""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_tutorial_end_to_end(tmp_path):
    out = str(tmp_path / "art")
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "tutorial.py"),
         "--docs", "40", "--out", out],
        capture_output=True, text=True, timeout=600, cwd=REPO,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert "tutorial complete" in proc.stdout
    for artifact in ("static_graph.svg", "static_graph.gexf",
                     "dynamic_graph.gexf"):
        p = os.path.join(out, artifact)
        assert os.path.exists(p) and os.path.getsize(p) > 0, artifact
    # the gexf timeline export carries spells (the Gephi dynamic bit)
    dyn = open(os.path.join(out, "dynamic_graph.gexf")).read()
    assert "<spells>" in dyn or "start=" in dyn
