"""Tests of the benchmark itself (no Spark session needed).

    python3 -m pytest benchsuite -q
"""

from __future__ import annotations

import json
import os
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT, os.path.join(ROOT, "tools")]

import check_parity  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402
import season  # noqa: E402
import spans  # noqa: E402
import tables  # noqa: E402

BENCHMARK = os.path.join(ROOT, "BENCHMARK.json")


def _files(outdir: str) -> dict[str, bytes]:
    return {n: open(os.path.join(outdir, n), "rb").read() for n in sorted(os.listdir(outdir))}


class TestSeasonGenerator:
    def test_same_seed_gives_identical_json(self, tmp_path):
        season.generate(7, players_per_team=4).write(str(tmp_path / "a"))
        season.generate(7, players_per_team=4).write(str(tmp_path / "b"))
        season.generate(8, players_per_team=4).write(str(tmp_path / "c"))
        assert _files(str(tmp_path / "a")) == _files(str(tmp_path / "b"))
        assert _files(str(tmp_path / "a")) != _files(str(tmp_path / "c"))

    def test_varies_the_properties_the_etl_depends_on(self):
        s = season.generate(3, players_per_team=6)
        postponed = [f for f in s.fixtures if f["event"] is None]
        assert postponed and all(f["kickoff_time"] == "TBC-postponed" for f in postponed)
        in_play = [f for f in s.fixtures if f["started"] and not f["finished"]]
        assert len(in_play) == 1 and in_play[0]["team_h_score"] is not None
        assert any(not p["history"] for p in s.players.values())
        assert any(p["history_past"] for p in s.players.values())
        finished = {season.generate(k, players_per_team=2).finished_gameweeks for k in range(12)}
        assert len(finished) > 1

    def test_expected_counts_are_consistent(self):
        s = season.generate(5, players_per_team=6)
        c = s.expected_counts
        assert c["fixtures"] == 380 and c["team_results"] == 760 and c["league_table"] == 20
        assert c["players_full"] <= c["players_past"] + c["players_future"]
        assert 0 < s.expected_model_rows <= c["players_past"]


def _table_rows(s: season.Season) -> list[dict]:
    rows = [{"team_id": t, **v} for t, v in s.expected_table.items()]
    rows.sort(key=lambda r: (-r["points"], -r["goal_difference"], -r["goals_scored"], r["team_id"]))
    return [{**r, "table_position": i} for i, r in enumerate(rows)]


class TestLeagueTableCheck:
    def test_accepts_the_expected_table(self):
        s = season.generate(9, players_per_team=2)
        assert season.check_league_table(_table_rows(s), s) == []

    def test_rejects_a_perturbed_table(self):
        s = season.generate(9, players_per_team=2)
        rows = _table_rows(s)
        rows[4]["goals_scored"] += 1
        rows[4]["goal_difference"] += 1
        problems = season.check_league_table(rows, s)
        assert any("goal differences do not sum to 0" in p for p in problems)
        assert any(f"team {rows[4]['team_id']}" in p for p in problems)

    def test_rejects_swapped_positions(self):
        s = season.generate(9, players_per_team=2)
        rows = _table_rows(s)
        rows[0]["table_position"], rows[-1]["table_position"] = rows[-1]["table_position"], 0
        assert season.check_league_table(rows, s)


class TestResultCheck:
    """The oracle comparison the query workload uses (tools/check_parity.py)."""

    def _frame(self):
        return pd.DataFrame({"k": [3, 1, 2], "v": [0.5, 1.25, None], "s": ["c", "a", "b"]})

    def test_order_insensitive_match(self):
        got = self._frame()
        assert check_parity.compare("q", got.iloc[::-1].reset_index(drop=True), got) == []

    def test_rejects_a_perturbed_value(self):
        got = self._frame()
        bad = got.copy()
        bad.loc[0, "v"] = 0.5000001
        assert any(p.startswith("value[v]") for p in check_parity.compare("q", bad, got))

    def test_rejects_missing_rows_and_columns(self):
        got = self._frame()
        assert any("row count" in p for p in check_parity.compare("q", got.iloc[:2], got))
        assert any("columns differ" in p for p in check_parity.compare("q", got.drop(columns="s"), got))


def test_tables_are_deterministic():
    a, b = tables.build(sf=0.001), tables.build(sf=0.001)
    assert set(a) == set(tables.TABLES)
    assert all(a[t].equals(b[t]) for t in tables.TABLES)


def test_error_lines_counts_a_planted_error(tmp_path):
    log = spans.StderrLog(str(tmp_path / "stderr.log"))
    try:
        start = log.offset()
        os.write(2, b"26/10/17 08:00:00 WARN TaskSetManager: slow\n")
        os.write(2, b"26/10/17 08:00:01 ERROR DAGScheduler: Failed to update accumulator 7\n")
        os.write(2, b"the word ERROR inside a message\n")
    finally:
        log.restore()
    assert log.count_errors(start) == 1


def test_tail_percentile_needs_ten_samples_beyond():
    assert run.tail([1.0] * 5)[0] == 50.0
    assert run.tail([float(i) for i in range(40)])[0] == 75.0
    p, v, beyond = run.tail([float(i) for i in range(200)])
    assert p == 95.0 and beyond >= 10


class TestMetricNames:
    def test_names_match_benchmark_json(self):
        with open(BENCHMARK) as f:
            spec = json.load(f)
        e2e = run.end_to_end_metrics([1.0, 2.0, 3.0], 0.5, [4.0], [1.0, 2.0], 2, 0, 1, 1)
        assert [m["name"] for m in spec["end_to_end"]] == list(e2e)
        assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == {k: u for k, (_, u) in e2e.items()}

        tracer = spans.Tracer(None, enabled=False)
        with tracer.span("pass", "p0") as ps:
            with tracer.span("queries.op", "p0"):
                pass
        per_layer = layers.per_layer_metrics(tracer, [{"id": "p0", "span": ps, "error_lines": 0}], 4, {})
        per_layer["session.start_s"] = (1.0, "s")
        per_layer["session.peak_rss_mb"] = (1.0, "MiB")
        assert sorted(m["name"] for m in spec["per_layer"]) == sorted(per_layer)
        assert {m["name"]: m["unit"] for m in spec["per_layer"]} == {k: u for k, (_, u) in per_layer.items()}


def test_self_time_subtracts_children():
    tracer = spans.Tracer(None, enabled=False)
    with tracer.span("etl.run", "p0") as outer:
        with tracer.span("etl.quality", "p0"):
            pass
    child = tracer.spans[1]
    assert tracer.self_seconds(outer) == pytest.approx(outer.seconds - child.seconds)


def test_refuses_to_run_outside_the_repository(tmp_path, monkeypatch):
    monkeypatch.chdir(tmp_path)
    assert run.main(["--workload", "query_mix", "--seed", "1", "--seconds", "1"]) == 2
