"""Seeded synthetic FPL season: the three API documents the ETL reads, plus
the values the pipeline must produce, computed in plain Python.

The season is a double round robin (20 teams x 38 gameweeks, 30 players per
team). The seed varies scores, minutes, points, the number of finished
gameweeks, the postponed fixtures and which players have no history, so
every run exercises the ETL paths that depend on them:

- one in-play fixture (started, not finished) in the current gameweek; its
  players carry it in both ``history`` and ``fixtures`` (the dup-drop path);
- postponed fixtures with a null gameweek and a malformed kickoff (the
  missing-gameweek drop path);
- new players with an empty ``history`` and players with previous seasons.

The same seed gives byte-identical JSON (``json.dumps`` with sorted keys).
"""

from __future__ import annotations

import json
import os
import random
from dataclasses import dataclass, field

N_TEAMS = 20
N_GAMEWEEKS = 38
PLAYERS_PER_TEAM = 30


def _round_robin(n: int) -> list[list[tuple[int, int]]]:
    """Circle method: n-1 rounds of n/2 (home, away) pairs; team 1 fixed."""
    ring = list(range(2, n + 1))
    rounds = []
    for r in range(n - 1):
        line = [1] + ring
        pairs = []
        for i in range(n // 2):
            a, b = line[i], line[n - 1 - i]
            pairs.append((a, b) if (r + i) % 2 == 0 else (b, a))
        rounds.append(pairs)
        ring = ring[-1:] + ring[:-1]
    return rounds


def _kickoff(gw: int, slot: int) -> str:
    day = 1 + (gw - 1) * 7 + slot % 3
    month, mday = 8 + (day - 1) // 28, (day - 1) % 28 + 1
    year = 2019 + (month - 1) // 12
    month = (month - 1) % 12 + 1
    return f"{year}-{month:02d}-{mday:02d}T{12 + slot % 8}:30:00Z"


@dataclass
class Season:
    """The three documents plus the expected ETL results."""

    fixtures: list[dict]
    main: dict
    players: dict[str, dict]
    finished_gameweeks: int
    expected_counts: dict[str, int] = field(default_factory=dict)
    expected_table: dict[str, dict[str, int]] = field(default_factory=dict)
    expected_model_rows: int = 0

    def write(self, outdir: str) -> None:
        os.makedirs(outdir, exist_ok=True)
        for name, doc in (("fixtures", self.fixtures), ("main", self.main), ("players", self.players)):
            with open(os.path.join(outdir, f"{name}.json"), "w") as f:
                f.write(json.dumps(doc, sort_keys=True))


def generate(seed: int, players_per_team: int = PLAYERS_PER_TEAM) -> Season:
    rng = random.Random(seed)
    finished_gws = rng.randint(22, 30)
    current_gw = finished_gws + 1

    first_half = _round_robin(N_TEAMS)
    schedule = first_half + [[(a, h) for h, a in rnd] for rnd in first_half]
    # fixtures of later gameweeks that never got a date
    later = [(gw, i) for gw in range(current_gw + 1, N_GAMEWEEKS + 1) for i in range(N_TEAMS // 2)]
    postponed = set(rng.sample(later, rng.randint(1, 3)))
    in_play_slot = rng.randrange(N_TEAMS // 2)

    fixtures = []
    fid = 0
    for gw0, rnd in enumerate(schedule):
        gw = gw0 + 1
        for slot, (home, away) in enumerate(rnd):
            fid += 1
            finished = gw <= finished_gws
            started = finished or (gw == current_gw and slot == in_play_slot)
            is_postponed = (gw, slot) in postponed
            hs = as_ = None
            if started:
                hs, as_ = rng.choice((0, 0, 1, 1, 1, 2, 2, 3, 4)), rng.choice((0, 0, 1, 1, 1, 2, 3))
            fixtures.append({
                "code": 2_000_000 + fid, "id": fid,
                "event": None if is_postponed else gw,
                "kickoff_time": "TBC-postponed" if is_postponed else _kickoff(gw, slot),
                "provisional_start_time": is_postponed, "started": started, "finished": finished,
                "finished_provisional": finished, "minutes": 90 if finished else (55 if started else 0),
                "team_h": home, "team_a": away, "team_h_score": hs, "team_a_score": as_,
                "team_h_difficulty": 2 + rng.randrange(4), "team_a_difficulty": 2 + rng.randrange(4),
                "stats": [],
            })

    teams = [{
        "code": 3000 + t, "id": t, "name": f"Club {t:02d}", "short_name": f"C{t:02d}",
        "strength": 2 + rng.randrange(4), "strength_overall_home": 1000 + rng.randrange(400),
        "strength_overall_away": 1000 + rng.randrange(400), "strength_attack_home": 1000 + rng.randrange(400),
        "strength_attack_away": 1000 + rng.randrange(400), "strength_defence_home": 1000 + rng.randrange(400),
        "strength_defence_away": 1000 + rng.randrange(400), "draw": 0, "form": None, "loss": 0,
        "played": 0, "points": 0, "position": t, "team_division": None, "unavailable": False, "win": 0,
    } for t in range(1, N_TEAMS + 1)]
    events = [{
        "id": g, "name": f"Gameweek {g}", "deadline_time": _kickoff(g, 0).replace("T12:30", "T10:00"),
        "deadline_time_epoch": 1_565_000_000 + g * 604_800, "deadline_time_game_offset": 0,
        "chip_plays": [], "top_element_info": None,
        "finished": g <= finished_gws, "data_checked": g <= finished_gws,
        "is_previous": g == finished_gws, "is_current": g == current_gw, "is_next": g == current_gw + 1,
        "average_entry_score": 40 + rng.randrange(30) if g <= finished_gws else None,
        "highest_score": 90 + rng.randrange(60) if g <= finished_gws else None,
        "highest_scoring_entry": 1_000_000 + rng.randrange(10**6) if g <= finished_gws else None,
        "most_selected": 1, "most_transferred_in": 2, "top_element": 3,
        "most_captained": 4, "most_vice_captained": 5, "transfers_made": rng.randrange(10**6),
    } for g in range(1, N_GAMEWEEKS + 1)]
    positions = [{
        "id": i, "singular_name": n, "singular_name_short": s, "squad_select": sel,
        "squad_min_play": lo, "squad_max_play": hi, "plural_name": n + "s", "plural_name_short": s + "S",
        "ui_shirt_specific": False, "sub_positions_locked": [],
    } for i, (n, s, sel, lo, hi) in enumerate(
        [("Goalkeeper", "GKP", 2, 1, 1), ("Defender", "DEF", 5, 3, 5),
         ("Midfielder", "MID", 5, 2, 5), ("Forward", "FWD", 3, 1, 3)], start=1)]

    by_team: dict[int, list[dict]] = {t: [] for t in range(1, N_TEAMS + 1)}
    for fx in fixtures:
        by_team[fx["team_h"]].append(fx)
        by_team[fx["team_a"]].append(fx)

    elements, players = [], {}
    n_past = n_future = n_dups = n_prev = n_model = 0
    pid = 0
    for t in range(1, N_TEAMS + 1):
        for j in range(players_per_team):
            pid += 1
            etype = 1 + 4 * j // players_per_team
            new_player = rng.random() < 0.05
            regular = rng.random()
            elements.append({
                "code": 100_000 + pid, "id": pid, "first_name": f"First{pid}", "second_name": f"Last-{pid}",
                "element_type": etype, "team": t, "team_code": 3000 + t, "squad_number": j + 1,
                "web_name": f"P{pid}", "now_cost": 40 + rng.randrange(90),
                "selected_by_percent": f"{rng.uniform(0, 60):.1f}", "form": f"{rng.uniform(0, 9):.1f}",
                "points_per_game": f"{rng.uniform(0, 8):.1f}", "value_form": f"{rng.uniform(0, 2):.1f}",
                "value_season": f"{rng.uniform(0, 30):.1f}", "ep_next": f"{rng.uniform(0, 9):.1f}",
                "ep_this": f"{rng.uniform(0, 9):.1f}",
                "chance_of_playing_next_round": rng.choice((None, None, None, 0, 25, 75, 100)),
                "chance_of_playing_this_round": rng.choice((None, None, None, 0, 25, 75, 100)),
                "cost_change_event": 0, "cost_change_event_fall": 0, "cost_change_start": rng.randrange(-3, 4),
                "cost_change_start_fall": 0, "news": "" if rng.random() < 0.8 else "Knock - 75% chance",
                "news_added": None, "in_dreamteam": False, "special": False, "dreamteam_count": rng.randrange(3),
                "event_points": rng.randrange(15), "total_points": rng.randrange(250),
                "transfers_in": rng.randrange(10**5), "transfers_out": rng.randrange(10**5),
                "transfers_in_event": rng.randrange(10**4), "transfers_out_event": rng.randrange(10**4),
                "minutes": rng.randrange(3000), "goals_scored": rng.randrange(20), "assists": rng.randrange(15),
                "clean_sheets": rng.randrange(15), "goals_conceded": rng.randrange(50), "own_goals": 0,
                "penalties_saved": 0, "penalties_missed": 0, "yellow_cards": rng.randrange(8),
                "red_cards": rng.randrange(2), "saves": rng.randrange(100) if etype == 1 else 0,
                "bonus": rng.randrange(30), "bps": rng.randrange(800), "photo": f"{pid}.jpg", "status": "a",
                "influence": f"{rng.uniform(0, 900):.1f}", "creativity": f"{rng.uniform(0, 900):.1f}",
                "threat": f"{rng.uniform(0, 900):.1f}", "ict_index": f"{rng.uniform(0, 250):.1f}",
            })
            hist, futs, past = [], [], []
            for fx in by_team[t]:
                home = fx["team_h"] == t
                if fx["started"] and not new_player:
                    minutes = rng.choice((0, 90, 90, 90, 45, 73, 12)) if rng.random() < regular + 0.3 else 0
                    points = 0 if minutes == 0 else rng.choice((1, 1, 2, 2, 2, 3, 5, 6, 8, 12))
                    hist.append({
                        "element": pid, "fixture": fx["id"],
                        "opponent_team": fx["team_a"] if home else fx["team_h"], "total_points": points,
                        "was_home": home, "kickoff_time": fx["kickoff_time"],
                        "team_h_score": fx["team_h_score"], "team_a_score": fx["team_a_score"],
                        "round": fx["event"], "minutes": minutes, "goals_scored": int(points >= 8),
                        "assists": int(points == 5), "clean_sheets": int(points == 6), "goals_conceded": rng.randrange(4),
                        "own_goals": 0, "penalties_saved": 0, "penalties_missed": 0,
                        "yellow_cards": int(rng.random() < 0.1), "red_cards": 0, "saves": 0,
                        "bonus": rng.choice((0, 0, 0, 1, 2, 3)), "bps": rng.randrange(60),
                        "influence": f"{rng.uniform(0, 80):.1f}", "creativity": f"{rng.uniform(0, 80):.1f}",
                        "threat": f"{rng.uniform(0, 80):.1f}", "ict_index": f"{rng.uniform(0, 20):.1f}",
                        "value": 40 + rng.randrange(90), "transfers_balance": rng.randrange(-5000, 5000),
                        "selected": rng.randrange(10**6), "transfers_in": rng.randrange(10**4),
                        "transfers_out": rng.randrange(10**4),
                    })
                if not fx["finished"]:
                    futs.append({
                        "id": fx["id"], "code": fx["code"], "team_h": fx["team_h"], "team_a": fx["team_a"],
                        "team_h_score": None, "team_a_score": None, "event": fx["event"], "finished": False,
                        "minutes": 0, "provisional_start_time": fx["provisional_start_time"],
                        "kickoff_time": fx["kickoff_time"],
                        "event_name": None if fx["event"] is None else f"Gameweek {fx['event']}",
                        "is_home": home, "difficulty": fx["team_h_difficulty" if home else "team_a_difficulty"],
                    })
            if not new_player and rng.random() < 0.3:
                for k in range(rng.randint(1, 3)):
                    past.append({
                        "season_name": f"{2015 + k}/{16 + k}", "element_code": 100_000 + pid,
                        "start_cost": 45, "end_cost": 47, "total_points": rng.randrange(250),
                        "minutes": rng.randrange(3400), "goals_scored": rng.randrange(20),
                        "assists": rng.randrange(15), "clean_sheets": rng.randrange(15),
                        "goals_conceded": rng.randrange(50), "own_goals": 0, "penalties_saved": 0,
                        "penalties_missed": 0, "yellow_cards": rng.randrange(8), "red_cards": 0, "saves": 0,
                        "bonus": rng.randrange(30), "bps": rng.randrange(800),
                        "influence": f"{rng.uniform(0, 900):.1f}", "creativity": f"{rng.uniform(0, 900):.1f}",
                        "threat": f"{rng.uniform(0, 900):.1f}", "ict_index": f"{rng.uniform(0, 250):.1f}",
                    })
            players[str(pid)] = {"history": hist, "fixtures": futs, "history_past": past}

            fut_kept = [f for f in futs if f["event"] is not None]
            hist_keys = {(h["round"], h["fixture"]) for h in hist}
            dups = sum((f["event"], f["id"]) in hist_keys for f in fut_kept)
            n_past += len(hist)
            n_future += len(fut_kept)
            n_dups += dups
            n_prev += len(past)
            n_model += sum(h["round"] <= finished_gws for h in hist)

    season = Season(
        fixtures=fixtures,
        main={"events": events, "teams": teams, "element_types": positions, "elements": elements},
        players=players,
        finished_gameweeks=finished_gws,
    )
    season.expected_counts = {
        "fixtures": len(fixtures),
        "gameweeks": N_GAMEWEEKS,
        "teams": N_TEAMS,
        "positions": len(positions),
        "players_summary": len(elements),
        "players_previous_seasons": n_prev,
        "players_past": n_past,
        "players_future": n_future,
        "players_full": n_past + n_future - n_dups,
        "team_results": 2 * len(fixtures),
        "league_table": N_TEAMS,
    }
    season.expected_table = expected_league_table(fixtures)
    season.expected_model_rows = n_model
    return season


def expected_league_table(fixtures: list[dict]) -> dict[str, dict[str, int]]:
    """Per-team totals keyed by team id string, with the catalog's
    semantics: results and points count finished fixtures only, goals count
    every fixture that has a score (an in-play fixture's live score too)."""
    cols = ("points", "goal_difference", "played", "win", "draw", "loss", "goals_scored", "goals_conceded")
    table: dict[str, dict[str, int]] = {}
    for fx in fixtures:
        for team, scored, conceded in ((fx["team_h"], fx["team_h_score"], fx["team_a_score"]),
                                       (fx["team_a"], fx["team_a_score"], fx["team_h_score"])):
            row = table.setdefault(str(team), dict.fromkeys(cols, 0))
            if scored is None:
                continue
            row["goals_scored"] += scored
            row["goals_conceded"] += conceded
            row["goal_difference"] += scored - conceded
            if fx["finished"]:
                row["played"] += 1
                row["win"] += scored > conceded
                row["draw"] += scored == conceded
                row["loss"] += scored < conceded
                row["points"] += 3 * (scored > conceded) + (scored == conceded)
    return table


def check_league_table(rows: list[dict], season: Season) -> list[str]:
    """Compare the engine's league table with the expected per-team totals,
    its conservation laws and its ordering. Returns the problems found."""
    problems = []
    finished = sum(fx["finished"] for fx in season.fixtures)
    by_team = {r["team_id"]: r for r in rows}
    if set(by_team) != set(season.expected_table):
        return [f"league_table teams differ: {sorted(by_team)} vs {sorted(season.expected_table)}"]
    for team, want in season.expected_table.items():
        got = {k: by_team[team][k] for k in want}
        if got != want:
            problems.append(f"league_table team {team}: {got} != {want}")
    wins = sum(r["win"] for r in rows)
    draws = sum(r["draw"] for r in rows)
    if sum(r["goal_difference"] for r in rows) != 0:
        problems.append("league_table goal differences do not sum to 0")
    if wins + draws // 2 != finished or draws % 2:
        problems.append(f"league_table wins + draws/2 = {wins} + {draws}/2 != {finished} finished fixtures")
    if sum(r["points"] for r in rows) != 3 * wins + draws:
        problems.append("league_table points != 3 * wins + draws")
    if sum(r["played"] for r in rows) != 2 * finished:
        problems.append("league_table played != 2 * finished fixtures")
    ranked = sorted(rows, key=lambda r: (-r["points"], -r["goal_difference"], -r["goals_scored"], r["team_id"]))
    if [r["table_position"] for r in ranked] != list(range(len(rows))):
        problems.append("league_table positions do not follow (points, goal difference, goals, team_id)")
    return problems
