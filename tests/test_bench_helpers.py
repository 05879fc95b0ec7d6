"""bench.py harness helpers — pure Python, no Spark session needed.

The prior loader and the tripwires decide whether a BENCH record is flagged,
so their filtering logic deserves pins: a bug here silently hides (or
invents) a regression.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import bench  # noqa: E402


def _record(times: dict, sf: str = "0.1", master: str = "local[4]") -> dict:
    return {
        "queries": times,
        "structure": {k: {"jobs": 1, "stages": 2, "tasks": 4} for k in times},
        "sf": sf,
        "config": {"master": master},
    }


def _commit_bench(repo: Path, record: dict) -> None:
    """A git repo at ``repo`` whose HEAD holds ``record`` as BENCH.json."""

    def git(*argv):
        subprocess.run(
            ["git", "-C", str(repo), *argv],
            check=True,
            capture_output=True,
            env={
                "GIT_AUTHOR_NAME": "t",
                "GIT_AUTHOR_EMAIL": "t@t",
                "GIT_COMMITTER_NAME": "t",
                "GIT_COMMITTER_EMAIL": "t@t",
                "HOME": str(repo),
                "PATH": bench.os.environ["PATH"],
            },
        )

    git("init", "-q")
    (repo / "BENCH.json").write_text(json.dumps(record))
    git("add", "BENCH.json")
    git("commit", "-q", "-m", "committed snapshot")


@pytest.fixture
def bench_dir(tmp_path, monkeypatch):
    """Point bench.py's own location at ``tmp_path``, outside any repo."""
    monkeypatch.setenv("GIT_CEILING_DIRECTORIES", str(tmp_path.parent))
    monkeypatch.setattr(
        bench.os.path, "abspath", lambda p: str(tmp_path / "bench.py")
    )
    return tmp_path


def test_load_prior_times_filters_unknown_names(bench_dir):
    _commit_bench(bench_dir, _record({"q_a": 1.0, "q_gone": 2.0, "q_z": 0}))
    times, structure = bench.load_priors({"q_a", "q_z"}, "0.1", "local[4]")
    # a retired query and a non-positive time are never priors
    assert times == {"q_a": 1.0}
    assert set(structure) == {"q_a", "q_z"}


def test_load_prior_times_filters_by_scale_factor(bench_dir):
    # a record from another scale factor or another master gives no priors:
    # its times differ by 10-100x (sf) or up to 2.5x (cores alone)
    _commit_bench(bench_dir, _record({"q_a": 1.2}, sf="0.001"))
    assert bench.load_priors({"q_a"}, "0.1", "local[4]") == ({}, {})
    assert bench.load_priors({"q_a"}, "0.001", "local[4]") == (
        {"q_a": 1.2},
        {"q_a": {"jobs": 1, "stages": 2, "tasks": 4}},
    )


def test_load_prior_times_filters_by_master(bench_dir):
    _commit_bench(bench_dir, _record({"q_a": 1.2}, master="local[8]"))
    assert bench.load_priors({"q_a"}, "0.1", "local[4]") == ({}, {})
    times, structure = bench.load_priors({"q_a"}, "0.1", "local[8]")
    # one read gives both halves of the tripwire
    assert times == {"q_a": 1.2}
    assert structure == {"q_a": {"jobs": 1, "stages": 2, "tasks": 4}}


def test_load_prior_times_prefers_committed_bench_over_working_tree(bench_dir):
    # Every run overwrites the working-tree BENCH.json, so the prior must
    # come from git HEAD: a re-run comparing against its own previous slow
    # output would never fire.
    _commit_bench(bench_dir, _record({"q_a": 0.5}))
    (bench_dir / "BENCH.json").write_text(json.dumps(_record({"q_a": 4.0})))
    times, _ = bench.load_priors({"q_a"}, "0.1", "local[4]")
    assert times == {"q_a": 0.5}


def test_load_prior_times_fallback_excludes_bench_json(bench_dir, monkeypatch):
    # with no repo, or no git at all, there are no priors: the working-tree
    # BENCH.json is never read
    (bench_dir / "BENCH.json").write_text(json.dumps(_record({"q_a": 0.01})))
    assert bench.load_priors({"q_a"}, "0.1", "local[4]") == ({}, {})
    monkeypatch.setenv("PATH", str(bench_dir))
    assert bench.load_priors({"q_a"}, "0.1", "local[4]") == ({}, {})


def test_detect_regressions_trips_only_past_3x_prior():
    prior = {"q_a": 1.0, "q_b": 0.5}
    results = {"q_a": 3.5, "q_b": 1.4, "q_new": 9.0}  # q_new: no prior
    reg = bench.detect_regressions(results, prior)
    assert reg == {"q_a": {"best_sec": 3.5, "prior_best_sec": 1.0}}
    # exactly-3x does not trip (strict >)
    assert bench.detect_regressions({"q_a": 3.0}, prior) == {}


def test_detect_structure_regressions_fires_on_task_growth():
    """The host-noise-immune half of the tripwire: task-count growth past
    1.5x prior (+8 slack) flags a plan regression; flat or missing
    structure never fires, and small absolute jumps on tiny queries stay
    inside the slack."""
    prior = {
        "q_big": {"jobs": 10, "stages": 20, "tasks": 100},
        "q_tiny": {"jobs": 1, "stages": 2, "tasks": 4},
    }
    # 100 -> 160 tasks: past 1.5*100+8
    reg = bench.detect_structure_regressions(
        {"q_big": {"jobs": 12, "stages": 25, "tasks": 160}}, prior
    )
    assert reg == {
        "q_big": {"tasks": 160, "prior_tasks": 100, "jobs": 12, "prior_jobs": 10}
    }
    # 100 -> 150 tasks: at the factor, inside slack — no fire
    assert (
        bench.detect_structure_regressions(
            {"q_big": {"jobs": 10, "stages": 20, "tasks": 150}}, prior
        )
        == {}
    )
    # tiny query: 4 -> 12 tasks is 3x but within the +8 absolute slack
    # (AQE split flap, not a plan regression)
    assert (
        bench.detect_structure_regressions(
            {"q_tiny": {"jobs": 1, "stages": 2, "tasks": 12}}, prior
        )
        == {}
    )
    # no prior row -> never fires
    assert (
        bench.detect_structure_regressions(
            {"q_new": {"jobs": 5, "stages": 9, "tasks": 999}}, prior
        )
        == {}
    )


def test_timed_structured_records_final_run_structure():
    """timed_structured keeps best-of-N wall semantics and records the
    LAST run's jobs/stages/tasks (steady state) on the capture object."""

    class FakeCap:
        def __init__(self):
            self.snaps = 0
            self.last = None

        def snapshot(self):
            self.snaps += 1
            return {self.snaps}

        def record(self, before):
            self.last = {"jobs": self.snaps, "stages": 0, "tasks": 0}
            return self.last

    cap = FakeCap()
    best = bench.timed_structured(lambda: None, 3, cap)
    assert best >= 0.0
    assert cap.snaps == 3  # one snapshot per run
    assert cap.last == {"jobs": 3, "stages": 0, "tasks": 0}
    # cap=None path stays pure timing
    assert bench.timed_structured(lambda: None, 2, None) >= 0.0


def test_micro_timed_records_runs_mean_std(monkeypatch):
    monkeypatch.setattr(bench, "MICRO_RUNS", 4)
    rec = bench.micro_timed(lambda: None, None)
    assert set(rec) == {"runs", "mean", "std"}
    assert len(rec["runs"]) == 4
    assert min(rec["runs"]) <= rec["mean"] <= max(rec["runs"])


def test_resolve_modes_partial_output_never_clobbers_bench_json():
    # full run -> BENCH.json; pure micro-only -> MICRO_RETIME.json; any
    # BENCH_ONLY run -> a QUERY-SET-DERIVED RETIME_QUERIES_<hash>.json
    # (same-set re-runs refresh in place; a different set never collides)
    assert bench.resolve_modes({}) == (False, set(), "BENCH.json")
    assert bench.resolve_modes({"BENCH_MICRO_ONLY": "1"}) == (
        True, set(), "MICRO_RETIME.json",
    )
    micro_only, only, out = bench.resolve_modes(
        {"BENCH_ONLY": "ann_ivf_pq_topk, ivf_cell_health"}
    )
    assert micro_only is False
    assert only == {"ann_ivf_pq_topk", "ivf_cell_health"}
    assert out.startswith("RETIME_QUERIES_") and out.endswith(".json")
    # stable for the set regardless of spelling order; distinct otherwise;
    # and never the bare committed-artifact name
    assert out == bench.resolve_modes(
        {"BENCH_ONLY": "ivf_cell_health,ann_ivf_pq_topk"}
    )[2]
    assert out != bench.retime_default_out({"knn_topk"})
    assert bench.retime_default_out({"knn_topk"}) != "RETIME_QUERIES.json"
    # combined mode: BENCH_ONLY wins the default (micros ride along)
    assert bench.resolve_modes(
        {"BENCH_MICRO_ONLY": "1", "BENCH_ONLY": "knn_topk"}
    )[2] == bench.retime_default_out({"knn_topk"})
    assert bench.resolve_modes(
        {"BENCH_MICRO_ONLY": "1", "BENCH_OUT": "X.json"}
    )[2] == "X.json"


def test_validate_only_names_flags_unknown_and_skip_listed():
    queries = {"knn_topk": None, "ann_recall": None, "events_hourly": None}
    # ann_recall is SKIP-listed (composition of other timed plans) — naming
    # it must be rejected, not silently timed-as-nothing; the three
    # addressable extras pass
    assert bench.validate_only_names(set(), queries) == []
    assert bench.validate_only_names(
        {"knn_topk", "knn_topk_numpy", "pq_build_codes", "minhash_index_build"},
        queries,
    ) == []
    assert bench.validate_only_names(
        {"ann_recall", "knn_topkk", "events_hourly"}, queries
    ) == ["ann_recall", "knn_topkk"]
