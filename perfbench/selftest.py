"""Self-tests of the benchmark itself; no Spark session is started.

    python3 perfbench/selftest.py

* the same seed gives byte-identical generated files and op sequences;
* every checker rejects a planted wrong answer, so a broken check cannot
  report a clean run;
* BENCHMARK.json lists exactly the workloads and metrics of ``spec.py``,
  within the benchmark contract's limits, and every per-layer metric maps
  to end-to-end metrics and workloads that exist.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys
import tempfile

import numpy as np
import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench import checks, gen, spec, workloads  # noqa: E402


def _digest_tree(root: str) -> dict[str, str]:
    out = {}
    for dirpath, _, names in os.walk(root):
        for n in names:
            path = os.path.join(dirpath, n)
            with open(path, "rb") as f:
                out[os.path.relpath(path, root)] = hashlib.sha256(f.read()).hexdigest()
    return out


def _generate(seed: int, root: str):
    rngs = [np.random.default_rng(s) for s in np.random.SeedSequence(seed).spawn(6)]
    plan = gen.collection_plan(rngs[0], os.path.join(root, "gen"), 32, [300, 300, 200],
                               save_after={2}, delete_after=1, n_delete=10, files_per_batch=4)
    ops = gen.serve_ops(rngs[1], plan, 200)
    rows = gen.write_fixture(rngs[2], os.path.join(root, "fixture"),
                             gen.FixtureSizes(lineitem=3000, orders=800, documents=200))
    queries = gen.batch_queries(rngs[3], 16, 32)
    return plan, ops, rows, queries


def test_same_seed_same_inputs():
    with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b, \
            tempfile.TemporaryDirectory() as c:
        pa_, ops_a, rows_a, q_a = _generate(7, a)
        pb, ops_b, rows_b, q_b = _generate(7, b)
        pc, ops_c, _, _ = _generate(8, c)
        files_a, files_b = _digest_tree(a), _digest_tree(b)
        assert files_a and files_a == files_b, "same seed wrote different files"
        assert ops_a == ops_b and rows_a == rows_b and q_a == q_b
        assert pa_.steps == pb.steps and pa_.batch_ids == pb.batch_ids
        assert _digest_tree(c) != files_a and ops_c != ops_a, "seed is ignored"


def _model(n=400, dim=16, seed=3):
    rng = np.random.default_rng(seed)
    raw = {f"v{i:04d}": (rng.standard_normal(dim).astype(np.float32), int(rng.integers(10)),
                         gen.CATEGORIES[i % 8]) for i in range(n)}
    return checks.VectorModel(raw), rng


def test_topk_checker_catches_planted_errors():
    model, rng = _model()
    q = [float(x) for x in rng.standard_normal(16)]
    scores = model.scores(q)
    order = np.argsort(-scores)
    right = [(model.ids[i], float(scores[i])) for i in order[:10]]
    assert checks.check_topk(right, model.ids, scores, 10) == []
    swapped = right[:9] + [(model.ids[order[50]], float(scores[order[50]]))]
    assert checks.check_topk(swapped, model.ids, scores, 10)
    assert checks.check_topk(right[:9], model.ids, scores, 10)
    assert checks.check_topk(right[::-1], model.ids, scores, 10)
    wrong_score = [(right[0][0], right[0][1] + 0.01)] + right[1:]
    assert checks.check_topk(wrong_score, model.ids, scores, 10)
    assert checks.check_topk(right + [("nope", 0.0)], model.ids, scores, 10)
    # a tie at the k-th score may be broken either way
    tied = scores.copy()
    tied[order[10]] = tied[order[9]]
    alt = right[:9] + [(model.ids[order[10]], float(tied[order[10]]))]
    assert checks.check_topk(alt, model.ids, tied, 10) == []
    # threshold: rows under better_than must not come back
    t = float(scores[order[3]]) - 1e-4
    assert checks.check_topk(right[:4], model.ids, scores, 10, better_than=t) == []
    assert checks.check_topk(right[:5], model.ids, scores, 10, better_than=t)
    assert checks.check_topk(right[:3], model.ids, scores, 10, better_than=t)


def test_get_and_durability_checkers_catch_planted_errors():
    model, _ = _model()
    ids = model.ids[:4] + ["missing-1"]
    rows = [(r, int(model.labels[i]), model.categories[i], model.vectors[i].tolist())
            for i, r in enumerate(model.ids[:4])]
    assert checks.check_get(rows, ids, model) == []
    assert checks.check_get(rows[:3], ids, model)  # dropped a live id
    assert checks.check_get(rows + [rows[0]], ids, model)  # duplicate
    bad_label = [(rows[0][0], rows[0][1] + 1, rows[0][2], rows[0][3])] + rows[1:]
    assert checks.check_get(bad_label, ids, model)
    bad_vec = [(rows[0][0], rows[0][1], rows[0][2], [x + 1e-3 for x in rows[0][3]])] + rows[1:]
    assert checks.check_get(bad_vec, ids, model)
    ghost = rows + [("missing-1", 0, "news", rows[0][3])]
    assert checks.check_get(ghost, ids, model)
    n = len(model.ids)
    assert checks.check_durable(n, rows, ids, model) == []
    assert checks.check_durable(n - 1, rows, ids, model)  # an acknowledged row is gone
    assert checks.check_durable(n, rows[1:], ids, model)
    report = {"updated": ["a"], "inserted": ["b", "c"]}
    assert checks.check_upsert_report(report, {"a"}, {"b", "c"}) == []
    assert checks.check_upsert_report(report, {"a", "b"}, {"c"})


def test_frame_checker_catches_planted_errors():
    df = pd.DataFrame({"b": [1.5, 2.25, 3.0], "a": ["x", "y", "z"], "n": [1, 2, 3]})
    want = checks.frame_digest(df)
    assert checks.check_frame(checks.frame_digest(df.iloc[::-1]), want) == []
    changed = df.copy()
    changed.loc[1, "b"] = 2.2500001
    assert checks.check_frame(checks.frame_digest(changed), want)
    assert checks.check_frame(checks.frame_digest(df.iloc[:2]), want)
    assert checks.check_frame(checks.frame_digest(df.rename(columns={"n": "m"})), want)
    boxed = df.assign(n=df["n"].astype(object))
    assert checks.check_frame(checks.frame_digest(boxed), want)  # int64 vs boxed ints


NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def test_benchmark_json_matches_spec():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert bench == spec.benchmark_json(bench["run_seconds"]), "BENCHMARK.json != spec.py"
    assert set(bench) == {"command", "paths", "run_seconds", "workloads", "end_to_end",
                          "per_layer"}
    assert 1 <= bench["run_seconds"] <= 60
    assert set(spec.WORKLOADS) == set(workloads.WORKLOADS)
    names = [w["name"] for w in bench["workloads"]]
    names += [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    assert len(names) == len(set(names)), "a name is used twice"
    assert all(NAME.match(n) for n in names)
    assert all(len(w["why"]) <= 200 and "\n" not in w["why"] for w in bench["workloads"])
    assert any(m["name"] == "setup_s" and m["unit"] == "s" and m["better"] == "lower"
               for m in bench["end_to_end"])
    for m in bench["end_to_end"]:
        assert UNIT.match(m["unit"]) and m["better"] in ("lower", "higher")
        assert 0 < m["bound"] <= 0.25
    assert max(m["bound"] for m in bench["end_to_end"]) == spec.END_TO_END["setup_s"][2]
    for name, (unit, better, moves, _) in spec.PER_LAYER.items():
        assert UNIT.match(unit) and better in ("lower", "higher")
        for metric, wls in moves:
            assert metric in spec.END_TO_END, f"{name} maps to unknown {metric}"
            assert set(wls) <= set(spec.WORKLOADS), f"{name} maps to an unknown workload"
    assert len(json.dumps(bench)) <= 64 * 1024


def main() -> int:
    failed = 0
    for name, fn in sorted(globals().items()):
        if name.startswith("test_") and callable(fn):
            try:
                fn()
                print(f"ok    {name}")
            except AssertionError as exc:
                failed += 1
                print(f"FAIL  {name}: {exc}")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
