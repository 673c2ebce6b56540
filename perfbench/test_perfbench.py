"""Tests of the benchmark itself: every checker rejects a perturbed
output, the status-store parser reads Spark's metric strings, and the
smoke mode of each workload runs end to end.

    python3 -m pytest perfbench -q          # from the repository root
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import checks  # noqa: E402
import gen  # noqa: E402
import tracing  # noqa: E402


# --- extraction checker ----------------------------------------------------

def _write_extract_output(ck: checks.ExtractChecker, out: str) -> None:
    """A minimal output that satisfies the checker: the sampled named
    features at their feature-map columns for every labelled entity."""
    names = list(checks.SAMPLED_FEATURES) + ["filler-0"]
    os.makedirs(os.path.join(out, "features_libsvm"))
    with open(os.path.join(out, "feature_map.txt"), "w") as fd:
        fd.writelines(f"{i} {n} i\n" for i, n in enumerate(names))
    rows = []
    for ent, label in ck.labelled.items():
        g = ck.inp[ck.inp["entity_id"] == ent]
        feats = checks._entity_features(g)
        pairs = [(i, v) for i, n in enumerate(names[:-1]) if (v := feats[n]) is not None]
        rows.append({
            "entity_id": ent, "indices": [i for i, _ in pairs], "values": [v for _, v in pairs],
            "label": int(label), "weight": ck.weights[int(label)],
        })
    with open(os.path.join(out, "features_libsvm", "part-00000.txt"), "w") as fd:
        for r in rows:
            pairs = " ".join(f"{i}:{v!r}" for i, v in zip(r["indices"], r["values"]))
            fd.write(f"{r['label']} {pairs}\n")
    data = os.path.join(out, "_checkpoints", "extract", "data")
    os.makedirs(data)
    pq.write_table(pa.Table.from_pylist(rows), os.path.join(data, "part-00000.parquet"))


@pytest.fixture
def extract_case(tmp_path):
    inp = gen.write_tables({"c": gen.cookie_updates(7, 60)}, str(tmp_path / "in"))["c"]
    ck = checks.ExtractChecker(inp, seed=7, sample=60)
    out = str(tmp_path / "out")
    _write_extract_output(ck, out)
    return ck, out


def _edit_libsvm(out: str, fn) -> None:
    p = os.path.join(out, "features_libsvm", "part-00000.txt")
    with open(p) as fd:
        lines = fd.readlines()
    with open(p, "w") as fd:
        fd.writelines(fn(lines))


def _edit_checkpoint(out: str, fn) -> None:
    p = os.path.join(out, "_checkpoints", "extract", "data", "part-00000.parquet")
    rows = pq.read_table(p).to_pylist()
    pq.write_table(pa.Table.from_pylist(fn(rows)), p)


def test_extract_checker_accepts_consistent_output(extract_case):
    ck, out = extract_case
    assert ck.check(out) == []


def test_extract_checker_rejects_changed_value(extract_case):
    ck, out = extract_case

    def bump(lines):
        toks = lines[0].split()
        i, v = toks[1].split(":")
        toks[1] = f"{i}:{float(v) + 1.0}"
        return [" ".join(toks) + "\n"] + lines[1:]

    _edit_libsvm(out, bump)
    assert ck.check(out)


def test_extract_checker_rejects_dropped_row(extract_case):
    ck, out = extract_case
    _edit_libsvm(out, lambda lines: lines[1:])
    _edit_checkpoint(out, lambda rows: rows[1:])
    assert ck.check(out)


def test_extract_checker_rejects_wrong_feature_and_weight(extract_case):
    ck, out = extract_case

    def change(rows):
        rows[0]["values"] = [v + 0.5 for v in rows[0]["values"]]
        rows[1]["weight"] *= 1.01
        return rows

    _edit_checkpoint(out, change)
    probs = ck.check(out)
    assert any("class weight" in p for p in probs)
    assert any("differ from the checkpointed" in p for p in probs)


# --- operator-suite and flagship checkers ---------------------------------

@pytest.fixture(scope="module")
def suite_checker(tmp_path_factory):
    import __spark_entry__ as entry

    d = str(tmp_path_factory.mktemp("suite"))
    paths = gen.write_tables(gen.suite_tables(3, 0.001), d)
    return checks.SuiteChecker(paths, entry.oracle_sql())


@pytest.mark.parametrize(
    "name", ["cookie_feature_pipeline", "grid_search_cv", "asof_join_orders", "tpch_q1",
             "entropy_zlib", "gestalt_diff"],
)
def test_suite_checker_rejects_perturbed_output(suite_checker, name):
    want = suite_checker.expected(name)
    assert len(want) > 1
    assert suite_checker.check(name, want.copy()) == []
    assert suite_checker.check(name, want.iloc[1:].copy())  # one row dropped
    changed = want.copy()
    col = next(c for c in changed.columns if pd.api.types.is_numeric_dtype(changed[c])
               and changed[c].notna().iloc[0])
    changed.loc[changed.index[0], col] = changed[col].iloc[0] + 1
    assert suite_checker.check(name, changed)  # one value changed


def test_audio_check_rejects_bad_rows():
    good = pd.DataFrame({"audio_id": ["a", "b"], "duration_s": [1.0, 2.0],
                         "sample_rate": [8000, 8000], "channels": [1, 1],
                         "rms": [0.2, 0.3], "zcr": [0.1, 0.1]})
    assert checks.check_audio(good) == []
    bad = good.copy()
    bad.loc[0, "rms"] = float("nan")
    assert checks.check_audio(bad)
    assert checks.check_audio(good.iloc[0:0])


def test_flagship_checker_rejects_perturbed_output(tmp_path):
    paths = gen.write_tables(gen.flagship_tables(5, 3000, 20), str(tmp_path))
    want = checks.expected_flagship(paths["events"], paths["orders"])
    assert len(want) == 20
    assert checks.check_flagship(want.copy(), want) == []
    assert checks.check_flagship(want.iloc[1:].copy(), want)
    changed = want.copy()
    changed.loc[0, "n_updates"] += 1
    assert checks.check_flagship(changed, want)
    changed = want.copy()
    changed.loc[0, "gap_mean"] += 0.01
    assert checks.check_flagship(changed, want)


def test_generators_repeat_per_seed():
    assert gen.cookie_updates(4, 50).equals(gen.cookie_updates(4, 50))
    assert not gen.cookie_updates(4, 50).equals(gen.cookie_updates(5, 50))
    a, b = gen.flagship_tables(4, 500, 10), gen.flagship_tables(4, 500, 10)
    assert all(a[k].equals(b[k]) for k in a)


# --- status-store parsing --------------------------------------------------

DOT = r'''digraph G {
  1 [id="node1" labelType="html" label="<b>Execute InsertIntoHadoopFsRelationCommand</b><br><br>task commit time total (min, med, max (stageId: taskId))<br>28 ms (1 ms, 9 ms, 9 ms (stage 3.0: task 5))<br>number of written files: 4<br>number of output rows: 500<br>written output: 12.0 KiB" tooltip="x"];
  subgraph cluster3 {
    label="WholeStageCodegen (2)\n \nduration: total (min, med, max (stageId: taskId))\n3.1 s (735 ms, 740 ms, 855 ms (stage 3.0: task 2))";
  }
  5 [id="node5" labelType="html" label="<b>ArrowEvalPython</b><br><br>time to run Python workers total (min, med, max (stageId: taskId))<br>6.5 s (1.5 s, 1.6 s, 1.8 s (stage 3.0: task 2))<br>data sent to Python workers total (min, med, max (stageId: taskId))<br>132.6 KiB (28.8 KiB, 33.1 KiB, 38.4 KiB (stage 3.0: task 5))<br>number of output rows: 1,500" tooltip="y"];
}'''


def test_parse_dot_reads_node_and_cluster_metrics():
    nodes = dict(tracing.parse_dot(DOT))
    w = nodes["Execute InsertIntoHadoopFsRelationCommand"]
    assert w["task commit time"] == pytest.approx(0.028)
    assert w["written output"] == pytest.approx(12 * 1024)
    assert w["number of output rows"] == 500
    assert nodes["WholeStageCodegen (2)"]["duration"] == pytest.approx(3.1)
    py = nodes["ArrowEvalPython"]
    assert py["time to run Python workers"] == pytest.approx(6.5)
    assert py["data sent to Python workers"] == pytest.approx(132.6 * 1024)
    assert py["number of output rows"] == 1500


def test_pass_metrics_attribute_executions_to_innermost_span():
    pt = tracing.PassTrace(
        spans=[
            tracing.Span("pass", 0.0, 10.0),
            tracing.Span("cli.main", 1.0, 9.0, parent=0),
            tracing.Span("runtime.stage", 2.0, 5.0, parent=1),
            tracing.Span("plans.compile_features", 2.1, 2.5, parent=2, py4j=40),
            tracing.Span("sinks.write_libsvm", 6.0, 8.0, parent=1),
        ],
        executions=[
            {"id": 0, "start": 3.0, "end": 4.0,
             "nodes": [("Execute InsertIntoHadoopFsRelationCommand", {})]},
            {"id": 1, "start": 4.2, "end": 4.5, "nodes": [("HashAggregate", {})]},
            {"id": 2, "start": 6.5, "end": 7.5,
             "nodes": [("Execute InsertIntoHadoopFsRelationCommand", {"written output": 2**20})]},
        ],
    )
    m = tracing.pass_metrics(pt, [])
    assert m["runtime.checkpoint_write_s"] == pytest.approx(1.0)
    assert m["runtime.lineage_s"] == pytest.approx(0.3)
    assert m["cli.sql_executions"] == 3
    assert m["plans.construct_s"] == pytest.approx(0.4)
    assert m["plans.py4j_calls"] == 40
    assert m["sinks.write_s"] == pytest.approx(2.0)
    assert m["sinks.output_mb"] == pytest.approx(1.0)
    # 1 s of the pass and 3 s of cli.main lie outside every layer span
    assert m["trace.unattributed_s"] == pytest.approx(5.0)


def test_unattributed_time_counts_gaps_inside_whole_operation_spans():
    pt = tracing.PassTrace(spans=[
        tracing.Span("pass", 0.0, 4.0),
        tracing.Span("query.q", 0.0, 4.0, parent=0),
        tracing.Span("entry.q", 0.5, 1.0, parent=1),
        tracing.Span("sinks.write_parquet", 1.5, 3.5, parent=1),
        tracing.Span("operators.asof_join", 2.0, 3.0, parent=3),
    ])
    m = tracing.pass_metrics(pt, ["q"])
    assert m["trace.unattributed_s"] == pytest.approx(1.5)
    assert m["trace.traced_wall_s"] == pytest.approx(4.0)


# --- the command -----------------------------------------------------------

def _run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "extract", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert "correct" not in p.stdout


@pytest.mark.parametrize("workload", ["extract", "operator_suite", "asof_flagship"])
def test_smoke_run_is_correct(workload):
    p = _run(ROOT, "--workload", workload, "--seed", "2", "--seconds", "1", "--trace", "0",
             "--smoke")
    assert p.returncode == 0, p.stderr[-3000:]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    assert set(res["metrics"]) == {"setup_s", "wall_s", "rows_per_s"}
