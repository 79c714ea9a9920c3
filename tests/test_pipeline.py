"""End-to-end pipeline test (reference DAG parity): land fixture JSON/CSV,
run the full pipeline twice, assert idempotent table state, the incremental
high-water-mark protocol, the data_flow override, and the reference's two
data-quality checks (fact->player join integrity, planted-player lookup)."""

from __future__ import annotations

import json

import pytest

from fpl_data_pipeline_spark.pipeline import run_pipeline


def _bootstrap(n_weeks_checked: int):
    return {
        "elements": [
            {"id": 1, "first_name": "Mo", "second_name": "Salah", "form": "8.50",
             "total_points": 200, "now_cost": 130, "team": 1, "element_type": 3},
            {"id": 2, "first_name": "Alisson", "second_name": "Becker", "form": "5.00",
             "total_points": 90, "now_cost": 55, "team": 1, "element_type": 1},
        ],
        "teams": [
            {"id": 1, "name": "Liverpool", "short_name": "LIV",
             "strength_attack_home": 1350, "strength_defence_home": 1300,
             "strength_attack_away": 1330, "strength_defence_away": 1280, "code": 14},
        ],
        "events": [
            {"id": w, "name": f"Gameweek {w}", "average_entry_score": 50 + w,
             "finished": w <= n_weeks_checked, "data_checked": w <= n_weeks_checked}
            for w in (1, 2)
        ],
    }


def _hist_row(week: int, points: int):
    return {"element": 1, "fixture": week * 10, "total_points": points,
            "opponent_team": 1, "was_home": True, "team_h_score": 1,
            "team_a_score": 0, "round": week, "minutes": 90, "goals_scored": 1,
            "assists": 0, "clean_sheets": 0, "goals_conceded": 0, "own_goals": 0,
            "penalties_saved": 0, "penalties_missed": 0, "yellow_cards": 0,
            "red_cards": 0, "saves": 0, "bonus": 1, "bps": 30,
            "influence": "50.0", "creativity": "20.0", "threat": "40.0",
            "ict_index": "11.0", "value": 130}


@pytest.fixture()
def landing(tmp_path):
    root = tmp_path / "landing"
    (root / "summaries").mkdir(parents=True)
    (root / "scrapp_stat_data").mkdir()
    (root / "bootstrap_static.json").write_text(json.dumps(_bootstrap(1)))
    (root / "summaries" / "element_summary_1.json").write_text(
        json.dumps({"history": [_hist_row(1, 12), _hist_row(2, 2)]})
    )
    (root / "summaries" / "element_summary_2.json").write_text(
        json.dumps({"history": []})
    )
    (root / "scrapp_stat_data" / "100.csv").write_text(
        ",player_id,player,time,key_passes,assists,shots,xG,xA,match_id\n"
        "0,501,Mo Salah,90,3,1,5,0.85,0.42,100\n"
    )
    return root


def _state(tables):
    return {
        name: sorted(map(tuple, df.collect())) if df is not None else None
        for name, df in tables.items()
        if name != "__metrics__"
    }


def test_pipeline_end_to_end_idempotent(spark, landing, tmp_path):
    wh = str(tmp_path / "wh")
    t1 = run_pipeline(spark, str(landing), wh)
    s1 = _state(t1)

    # all five reference tables materialized
    assert set(s1) == {"team_dm", "player_dm", "player_week_ft",
                       "player_stats_dm", "week_info_dm"}
    # observe() metrics rode the publish job: rows counted, zero null keys
    m = t1["__metrics__"]
    assert m["n_rows"] == 2 and m["null_keys"] in (0, None) and m["n_weeks"] == 2
    assert len(s1["team_dm"]) == 1 and len(s1["player_dm"]) == 2
    # hwm bootstrap run: both landed weeks loaded (empty prior week_info -> 0)
    weeks = {r["round_gw"] for r in t1["player_week_ft"].collect()}
    assert weeks == {1, 2}

    # reference data-quality check 1: fact -> player join integrity
    orphans = (
        t1["player_week_ft"]
        .join(t1["player_dm"], t1["player_week_ft"].element_ == t1["player_dm"].id,
              "left_anti")
        .count()
    )
    assert orphans == 0
    # reference data-quality check 2: planted-player lookup
    salah = t1["player_dm"].filter("surname = 'Salah'").collect()
    assert len(salah) == 1 and salah[0]["position"] == "mid"

    # run twice -> identical state (idempotent keyed merges end-to-end)
    t2 = run_pipeline(spark, str(landing), wh)
    assert _state(t2) == s1


def test_pipeline_hwm_and_data_flow(spark, landing, tmp_path):
    wh = str(tmp_path / "wh")
    run_pipeline(spark, str(landing), wh)

    # re-land week 2 with corrected points; week_info now marks gw1 checked,
    # so the default protocol (round_gw > hwm=1) reloads only week 2
    (landing / "summaries" / "element_summary_1.json").write_text(
        json.dumps({"history": [_hist_row(1, 99), _hist_row(2, 7)]})
    )
    t = run_pipeline(spark, str(landing), wh)
    pts = {r["round_gw"]: r["total_points"] for r in t["player_week_ft"].collect()}
    assert pts[1] == 12   # week 1 below hwm: NOT reloaded
    assert pts[2] == 7    # week 2 above hwm: merged

    # data_flow override: reload exactly week 1
    t = run_pipeline(spark, str(landing), wh, data_flow=1)
    pts = {r["round_gw"]: r["total_points"] for r in t["player_week_ft"].collect()}
    assert pts[1] == 99 and pts[2] == 7

    # data_flow='Skip': nothing changes even with new landed data
    (landing / "summaries" / "element_summary_1.json").write_text(
        json.dumps({"history": [_hist_row(1, 1), _hist_row(2, 1)]})
    )
    t = run_pipeline(spark, str(landing), wh, data_flow="Skip")
    pts = {r["round_gw"]: r["total_points"] for r in t["player_week_ft"].collect()}
    assert pts == {1: 99, 2: 7}

    # data_flow='All': full reload
    t = run_pipeline(spark, str(landing), wh, data_flow="All")
    pts = {r["round_gw"]: r["total_points"] for r in t["player_week_ft"].collect()}
    assert pts == {1: 1, 2: 1}


def test_pipeline_rejects_empty_landing(spark, tmp_path):
    root = tmp_path / "empty_landing"
    (root / "summaries").mkdir(parents=True)
    (root / "bootstrap_static.json").write_text(
        json.dumps({"elements": [], "teams": [], "events": []})
    )
    with pytest.raises(ValueError, match="no players"):
        run_pipeline(spark, str(root), str(tmp_path / "wh"))


def test_pipeline_publish_crash_recovery(spark, landing, tmp_path):
    """A crash between io.publish's two renames (table at .bak, garbage at
    .stage) must be recovered on the next run — same contract as the
    streaming merge, exercised through run_pipeline itself."""
    import os

    wh = str(tmp_path / "wh")
    t1 = run_pipeline(spark, str(landing), wh)
    good = sorted(map(tuple, t1["player_dm"].collect()))

    pdm = os.path.join(wh, "player_dm")
    os.rename(pdm, pdm + ".bak")
    os.makedirs(pdm + ".stage")
    with open(os.path.join(pdm + ".stage", "junk.parquet"), "w") as f:
        f.write("not parquet")

    t2 = run_pipeline(spark, str(landing), wh)
    assert sorted(map(tuple, t2["player_dm"].collect())) == good
    assert not os.path.exists(pdm + ".bak") and not os.path.exists(pdm + ".stage")


def test_pipeline_crash_recovery_preserves_merged_history(spark, landing, tmp_path):
    """The ADVICE-flagged ordering bug: after a crash between io.publish's two
    renames, the NEXT run must restore .bak BEFORE reading the merge base.
    The batch here is a PARTIAL snapshot (only week 2), so reading the base
    as absent would silently rebuild from the batch alone and drop the
    week-1 fact row (history not present in the current landing)."""
    import os

    wh = str(tmp_path / "wh")
    run_pipeline(spark, str(landing), wh)

    # crash state on the FACT table: renamed away, never promoted
    ft = os.path.join(wh, "player_week_ft")
    os.rename(ft, ft + ".bak")

    # re-land only week 2 (hwm=1 -> only week 2 loads from this snapshot)
    (landing / "summaries" / "element_summary_1.json").write_text(
        json.dumps({"history": [_hist_row(2, 7)]})
    )
    t = run_pipeline(spark, str(landing), wh)
    pts = {r["round_gw"]: r["total_points"] for r in t["player_week_ft"].collect()}
    assert pts == {1: 12, 2: 7}  # week 1 history RECOVERED, week 2 merged


def test_pipeline_failed_gate_leaves_previous_table_live(spark, landing, tmp_path):
    """The null-key data-quality gate must abort BEFORE the rename swap:
    previous table intact, no orphaned .bak/.stage."""
    import os

    wh = str(tmp_path / "wh")
    t1 = run_pipeline(spark, str(landing), wh)
    good = sorted(map(tuple, t1["player_week_ft"].collect()))

    bad = _hist_row(2, 5)
    bad["element"] = None
    (landing / "summaries" / "element_summary_1.json").write_text(
        json.dumps({"history": [bad]})
    )
    with pytest.raises(ValueError, match="NULL-keyed"):
        run_pipeline(spark, str(landing), wh, data_flow="All")

    ft = os.path.join(wh, "player_week_ft")
    assert not os.path.exists(ft + ".bak") and not os.path.exists(ft + ".stage")
    assert sorted(map(tuple, spark.read.parquet(ft).collect())) == good


def test_compact_recovers_crashed_publish(spark, tmp_path):
    """compact() after a crash between ITS two renames (table at .bak only)
    must restore the backup instead of failing the read (ADVICE io.py:98)."""
    import os

    from fpl_data_pipeline_spark.sources.io import compact

    p = str(tmp_path / "t")
    spark.range(100).write.parquet(p)
    rows = sorted(r["id"] for r in spark.read.parquet(p).collect())
    os.rename(p, p + ".bak")

    n = compact(spark, p, target_bytes_per_file=10 * 1024 * 1024)
    assert n >= 1
    assert sorted(r["id"] for r in spark.read.parquet(p).collect()) == rows
    assert not os.path.exists(p + ".bak")
