"""Span recorder arithmetic and wrapper installation (no Spark session)."""

from __future__ import annotations

import os
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import spans  # noqa: E402


def test_self_time_excludes_children_and_subtree_follows_parents():
    rec = spans.Recorder(run_id="t")
    with rec.span("root") as root:
        time.sleep(0.02)
        with rec.span("child", "plans.scd"):
            time.sleep(0.05)
            with rec.span("grandchild", "plans.versioned"):
                time.sleep(0.02)
    with rec.span("sibling"):
        pass
    r, c, g = rec.spans[:3]
    assert c.parent == root and g.parent == c.id and rec.spans[3].parent is None
    assert abs(r.self_s - 0.02) < 0.015 and abs(c.self_s - 0.05) < 0.015
    # self times of a subtree plus the root's own add up to the root's wall
    total = r.self_s + sum(s.self_s for s in spans.subtree(rec, root))
    assert abs(total - (r.end - r.start)) < 1e-9
    assert [s.name for s in spans.subtree(rec, root)] == ["child", "grandchild"]


def test_layer_metrics_charge_job_groups_to_their_span_layer():
    rec = spans.Recorder(run_id="t")
    with rec.span("merge", "plans.versioned") as sid:
        time.sleep(0.01)
    by_group = {rec.group(sid): {"jobs": 3, "task_s": 0.02, "shuffle_bytes": 10,
                           "output_bytes": 20, "spill_bytes": 0, "output_records": 5}}
    m = spans.layer_metrics(rec, by_group, cores=4)
    assert m["plans.versioned.calls"] == 1 and m["plans.versioned.jobs"] == 3
    assert m["plans.versioned.output_bytes"] == 20
    assert abs(m["plans.versioned.core_util"] - 0.02 / (m["plans.versioned.self_s"] * 4)) < 1e-12
    assert m["plans.scd.calls"] == 0


INSTALL_CHECK = """
import sys
sys.path.insert(0, {root!r})
from perfbench import spans
pkg = spans.PKG
import importlib
med = importlib.import_module(pkg + ".plans.medallion")
ver = importlib.import_module(pkg + ".plans.versioned")
rel = importlib.import_module(pkg + ".operators.relational")
io = importlib.import_module(pkg + ".sources.io")
original = ver.merge_scd1_versioned
rec = spans.Recorder(run_id="t")
n = spans.install(rec)
assert n > 50, n
# wrapped where defined and rebound where imported with `from .x import y`
assert ver.merge_scd1_versioned is not original
assert med.merge_scd1_versioned is ver.merge_scd1_versioned
assert med.read_csv is io.read_csv and med.read_csv.__wrapped__ is not None
assert rel.high_water_mark(None, "k") == 0
assert [(s.name, s.layer) for s in rec.spans] == [
    ("operators.relational.high_water_mark", "operators.relational")]
print("ok")
"""


def test_install_wraps_modules_and_their_from_imports():
    out = subprocess.run(
        [sys.executable, "-c", INSTALL_CHECK.format(root=ROOT)],
        capture_output=True, text=True, timeout=120,
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip().endswith("ok")
