"""Seeded FPL landing zones in the reference shape.

A ``Season`` holds one generated season: 20 teams, ``n_players`` players and
a 38-gameweek calendar. ``land(dir, week)`` writes the landing zone as the
real API and scraper would have left it after ``week``:

- ``bootstrap_static.json``: players with their running ``total_points`` and
  ``form``, the teams, and the gameweek calendar with ``data_checked`` set
  for every finished week;
- ``summaries/<id>.json``: one element-summary document per player whose
  ``history`` holds every week played so far (it grows week by week);
- ``scrapp_stat_data/<week>.csv``: one understat CSV per finished week.

The season also keeps its own tallies (fact rows and points per week) and
the dashboard answers computed in plain Python, which the benchmark checks
the engine's outputs against.
"""

from __future__ import annotations

import csv
import json
import os
import random
from decimal import ROUND_HALF_UP, Decimal

N_TEAMS = 20
N_WEEKS = 38
FIRST = ["Mo", "Harry", "Kevin", "Bukayo", "Erling", "Son", "Phil", "Declan",
         "Jack", "Marcus", "Ollie", "Cole", "Jarrod", "Luis", "Bruno"]
LAST = ["Kane", "DeBruyne", "Saka", "Haaland", "Foden", "Rice", "Grealish",
        "Rashford", "Sterling", "Watkins", "Palmer", "Bowen", "Diaz", "Silva"]
D2 = Decimal("0.01")


class Season:
    """One seeded season; all state derives from ``seed`` alone."""

    def __init__(self, seed: int, n_players: int = 631, n_weeks: int = N_WEEKS):
        rng = random.Random(seed)
        self.n_players, self.n_weeks = n_players, n_weeks
        self.teams = [
            {"id": t, "name": f"Team {t}", "short_name": f"T{t:02d}",
             "strength_attack_home": rng.randint(1000, 1400),
             "strength_defence_home": rng.randint(1000, 1400),
             "strength_attack_away": rng.randint(1000, 1400),
             "strength_defence_away": rng.randint(1000, 1400),
             "code": t + 50}
            for t in range(1, N_TEAMS + 1)
        ]
        self.players = [
            {"id": p, "first_name": FIRST[rng.randrange(len(FIRST))],
             "second_name": f"{LAST[rng.randrange(len(LAST))]}{p}",
             "now_cost": rng.randint(40, 130), "team": rng.randint(1, N_TEAMS),
             "element_type": rng.randint(1, 4)}
            for p in range(1, n_players + 1)
        ]
        # history[p] = list of per-week rows (a ~5% of player-weeks skipped)
        self.history: dict[int, list[dict]] = {p["id"]: [] for p in self.players}
        self.stats: dict[int, list[dict]] = {w: [] for w in range(1, n_weeks + 1)}
        for w in range(1, n_weeks + 1):
            for p in self.players:
                if rng.random() < 0.05:
                    continue
                minutes = rng.choice((0, 0, rng.randint(1, 89), 90, 90, 90))
                pts = 0 if minutes == 0 else rng.randint(-2, 18)
                row = {
                    "element": p["id"], "fixture": w * 100 + p["team"],
                    "total_points": pts, "opponent_team": rng.randint(1, N_TEAMS),
                    "was_home": rng.random() < 0.5,
                    "team_h_score": rng.randint(0, 5), "team_a_score": rng.randint(0, 5),
                    "round": w, "minutes": minutes,
                    "goals_scored": rng.randint(0, 2), "assists": rng.randint(0, 2),
                    "clean_sheets": rng.randint(0, 1), "goals_conceded": rng.randint(0, 4),
                    "own_goals": 0, "penalties_saved": 0, "penalties_missed": 0,
                    "yellow_cards": rng.randint(0, 1), "red_cards": 0,
                    "saves": rng.randint(0, 5), "bonus": rng.randint(0, 3),
                    "bps": rng.randint(-3, 60),
                    "influence": f"{rng.uniform(0, 99):.1f}",
                    "creativity": f"{rng.uniform(0, 99):.1f}",
                    "threat": f"{rng.uniform(0, 99):.1f}",
                    "ict_index": f"{rng.uniform(0, 30):.1f}",
                    "value": p["now_cost"],
                }
                self.history[p["id"]].append(row)
                # understat covers only players with minutes, one match each
                if minutes and p["id"] % 2 == 0:
                    self.stats[w].append({
                        "player_id": 10_000 + p["id"],
                        "player": f"{p['first_name']} {p['second_name']}",
                        "time": minutes, "key_passes": rng.randint(0, 6),
                        "assists": row["assists"], "shots": rng.randint(0, 7),
                        "xG": f"{rng.uniform(0, 1.5):.2f}",
                        "xA": f"{rng.uniform(0, 1.2):.2f}",
                        "match_id": w * 100 + p["team"],
                    })
        self.avg_score = {w: rng.randint(30, 80) for w in range(1, n_weeks + 1)}

    # --- landing ------------------------------------------------------------

    def _played(self, pid: int, week: int) -> list[dict]:
        return [r for r in self.history[pid] if r["round"] <= week]

    def player_state(self, week: int) -> list[dict]:
        """Bootstrap ``elements`` after ``week``: running points, and form as
        the mean of the last four gameweeks' points, one decimal."""
        out = []
        for p in self.players:
            rows = self._played(p["id"], week)
            recent = [r["total_points"] for r in rows if r["round"] > week - 4]
            form = Decimal(sum(recent)) / 4 if week else Decimal(0)
            out.append({**p, "total_points": sum(r["total_points"] for r in rows),
                        "form": str(form.quantize(Decimal("0.1"), ROUND_HALF_UP))})
        return out

    def bootstrap(self, week: int) -> dict:
        return {
            "elements": self.player_state(week),
            "teams": self.teams,
            "events": [
                {"id": w, "name": f"Gameweek {w}", "average_entry_score": self.avg_score[w],
                 "finished": w <= week, "data_checked": w <= week}
                for w in range(1, self.n_weeks + 1)
            ],
        }

    def land(self, landing: str, week: int) -> None:
        """Bring ``landing`` to the state after ``week`` (idempotent)."""
        summaries = os.path.join(landing, "summaries")
        scrape = os.path.join(landing, "scrapp_stat_data")
        os.makedirs(summaries, exist_ok=True)
        os.makedirs(scrape, exist_ok=True)
        with open(os.path.join(landing, "bootstrap_static.json"), "w") as f:
            json.dump(self.bootstrap(week), f)
        for p in self.players:
            with open(os.path.join(summaries, f"{p['id']}.json"), "w") as f:
                json.dump({"history": self._played(p["id"], week)}, f)
        for w in range(1, week + 1):
            path = os.path.join(scrape, f"{w}.csv")
            if os.path.exists(path):
                continue
            with open(path, "w", newline="") as f:
                cols = ["player_id", "player", "time", "key_passes", "assists",
                        "shots", "xG", "xA", "match_id"]
                wr = csv.writer(f)
                wr.writerow([""] + cols)
                for i, r in enumerate(self.stats[w]):
                    wr.writerow([i] + [r[c] for c in cols])

    # --- tallies and expected answers ----------------------------------------

    def week_tallies(self, last_week: int) -> dict[int, tuple[int, int]]:
        """{week: (fact rows, sum of points)} for weeks 1..last_week."""
        out = {w: [0, 0] for w in range(1, last_week + 1)}
        for rows in self.history.values():
            for r in rows:
                if r["round"] <= last_week:
                    out[r["round"]][0] += 1
                    out[r["round"]][1] += r["total_points"]
        return {w: tuple(v) for w, v in out.items()}

    def expected_home(self, week: int) -> dict:
        """The ``/`` payload after ``week``, computed without the engine."""
        state = self.player_state(week)
        name = {p["id"]: f"{p['first_name']} {p['second_name']}" for p in state}
        by_form = sorted(state, key=lambda p: (-Decimal(p["form"]), p["id"]))[:9]
        by_pts = sorted(state, key=lambda p: (-p["total_points"], p["id"]))[:9]
        weeks = sorted({r["round"] for rows in self.history.values()
                        for r in rows if r["round"] <= week}, reverse=True)
        detail = []
        for p in sorted(state, key=lambda p: (-p["total_points"], p["id"]))[:15]:
            rows = {r["round"]: r for r in self._played(p["id"], week)}
            gw = [rows[w]["total_points"] if w in rows else None for w in weeks[:3]]
            last4 = [rows[w]["total_points"] for w in weeks[:4] if w in rows]
            avg4 = (Decimal(sum(last4)) / 4).quantize(D2, ROUND_HALF_UP) if last4 else None
            detail.append({
                "id": p["id"], "total_points": p["total_points"],
                "sum_bps": sum(r["bps"] for r in rows.values()) if rows else None,
                "gw_1": gw[0], "gw_2": gw[1], "gw_3": gw[2],
                "avg_4_weeks": None if avg4 is None else float(avg4),
            })
        return {
            "graph_lab": [name[p["id"]] for p in by_form],
            "graph_val": [float(Decimal(p["form"])) for p in by_form],
            "graph_lab_val": [name[p["id"]] for p in by_pts],
            "graph_val_val": [
                float((Decimal(p["total_points"]) / Decimal(p["now_cost"]) * 10)
                      .quantize(D2, ROUND_HALF_UP))
                for p in by_pts
            ],
            "ply_data_detail": detail,
        }

    def expected_layout(self, week: int) -> dict:
        """The ``/layout`` top-15 lists after ``week``."""
        agg: dict[str, list] = {}
        for w in range(1, week + 1):
            for r in self.stats[w]:
                a = agg.setdefault(r["player"], [0, 0])
                a[0] += r["key_passes"]
                a[1] += r["shots"]
        key_pass = sorted(agg.items(), key=lambda kv: (-kv[1][0], kv[0]))[:15]
        shots = sorted(agg.items(), key=lambda kv: (-kv[1][1], kv[0]))[:15]
        return {
            "key_pass": [(n, v[0]) for n, v in key_pass],
            "shots": [(n, v[1]) for n, v in shots],
        }

