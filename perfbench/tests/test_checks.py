"""Self-tests of the benchmark's output checks: a wrong result must
fail them, and the football generator's truth must match standings
computed by hand. Run with ``python -m pytest perfbench/tests -q``."""

from __future__ import annotations

import os
import sys
from decimal import Decimal

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from checks import compare  # noqa: E402
from football import (  # noqa: E402
    check_warehouse,
    compare_top_k,
    compare_unordered,
    expected_counts,
)
from football_gen import League  # noqa: E402

COLS = ["k", "v", "amount"]
ROWS = [(1, "a", 1.5), (2, "b", 2.25), (3, "c", None)]


def test_identical_result_passes():
    assert compare(COLS, list(ROWS), COLS, list(ROWS)) is None


def test_row_order_and_column_order_do_not_matter():
    shuffled = [(r[2], r[0], r[1]) for r in reversed(ROWS)]
    assert compare(["amount", "k", "v"], shuffled, COLS, ROWS) is None


def test_one_altered_row_fails():
    altered = [ROWS[0], (2, "b", 2.2500001), ROWS[2]]
    assert compare(COLS, altered, COLS, ROWS) is not None


def test_one_missing_row_fails():
    assert compare(COLS, ROWS[:2], COLS, ROWS) is not None


def test_decimal_and_float_spellings_differ():
    # the strict canon compares str(): Decimal('2.50') is not 2.5
    assert compare(["x"], [(Decimal("2.50"),)], ["x"], [(2.5,)]) is not None


def test_renamed_column_fails():
    assert compare(["k", "v", "amt"], ROWS, COLS, ROWS) is not None


def _hand_league() -> League:
    """Four clubs, one complete season. The lower-numbered club wins
    2-0 wherever it plays, except that club 3 draws 1-1 at home."""
    lg = League(seed=5, seasons=1, played_weeks=0, clubs=4, squad=3, match_only=1, lineup=2)
    for m in lg.matches:
        m.played = True
        if m.home == 3:
            m.hg, m.ag = 1, 1
        elif m.home < m.away:
            m.hg, m.ag = 2, 0
        else:
            m.hg, m.ag = 0, 2
    return lg


def _table(lg: League, category: str):
    return [(r.club, r.mp, r.w, r.d, r.l, r.gf, r.ga, r.pts)
            for r in lg.standings(lg.current, category)]


def test_tiny_season_overall_standings_by_hand():
    assert _table(_hand_league(), "overall") == [
        (0, 6, 5, 1, 0, 11, 1, 16),
        (1, 6, 3, 1, 2, 7, 5, 10),
        (2, 6, 1, 1, 4, 3, 9, 4),
        (3, 6, 0, 3, 3, 3, 9, 3),
    ]


def test_tiny_season_home_standings_break_ties_on_goal_difference():
    assert _table(_hand_league(), "home") == [
        (0, 3, 3, 0, 0, 6, 0, 9),
        (1, 3, 2, 0, 1, 4, 2, 6),
        (3, 3, 0, 3, 0, 3, 3, 3),   # level on points with club 2, better goal difference
        (2, 3, 1, 0, 2, 2, 4, 3),
    ]


def test_generated_league_is_seeded():
    a, b = League(3, seasons=1, played_weeks=5), League(3, seasons=1, played_weeks=5)
    assert a.team_match_rows() == b.team_match_rows()
    assert a.team_match_rows() != League(4, seasons=1, played_weeks=5).team_match_rows()


def test_increment_plays_one_matchweek():
    lg = League(3, seasons=1, played_weeks=5)
    before = sum(m.played for m in lg.matches)
    assert lg.play_matchweek() == 6
    assert sum(m.played for m in lg.matches) == before + lg.n_clubs // 2


def test_top_k_accepts_any_tie_order_but_not_a_wrong_row():
    cands = [("a", 5), ("b", 4), ("c", 4), ("d", 1)]
    assert compare_top_k([("a", 5), ("c", 4)], cands, 1, 2) is None
    assert compare_top_k([("a", 5), ("b", 4)], cands, 1, 2) is None
    assert compare_top_k([("a", 5), ("d", 4)], cands, 1, 2) is not None
    assert compare_top_k([("a", 5)], cands, 1, 2) is not None


def test_unordered_compare_checks_sort_key():
    want = [("x", 1), ("y", 2)]
    assert compare_unordered([("y", 2), ("x", 1)], want, key=1, descending=True) is None
    assert compare_unordered([("x", 1), ("y", 2)], want, key=1, descending=True) is not None


def test_warehouse_row_count_check_catches_a_missing_row():
    lg = League(2, seasons=1, played_weeks=3, clubs=4, squad=3, match_only=1, lineup=2)
    want = expected_counts(lg)["fact_team_match"]
    assert want == 2 * 3 * 2     # three matchweeks of two matches, two rows each
    keys = {"fact_team_match": (["row_id"], False)}
    rows = [{"row_id": i} for i in range(want)]
    counts = {"fact_team_match": want}
    assert check_warehouse({"fact_team_match": rows}, counts, set(), keys) == []
    problems = check_warehouse({"fact_team_match": rows[:-1]}, counts, set(), keys)
    assert problems == [f"fact_team_match: {want - 1} rows, expected {want}"]


def test_warehouse_flags_unknown_players():
    keys = {"dim_player": (["player_id"], True)}
    rows = [{"player_id": 1, "player_name": "Ola Aina"},
            {"player_id": 2, "player_name": "player"}]
    problems = check_warehouse({"dim_player": rows}, {"dim_player": 2}, {"Ola Aina"}, keys)
    assert problems == ["dim_player: unknown players ['player']"]


def test_warehouse_key_checks():
    counts = {"dim_team": 2, "fact_team_point": 2}
    keys = {"dim_team": (["team_id"], True),
            "fact_team_point": (["season_id", "team_id", "Match_Category"], False)}
    dims = [{"team_id": 1, "stadium_id": None}, {"team_id": 2, "stadium_id": None}]
    facts = [{"season_id": 2425, "team_id": 1, "Match_Category": "overall"},
             {"season_id": 2425, "team_id": 3, "Match_Category": "overall"}]
    problems = check_warehouse({"dim_team": dims, "fact_team_point": facts}, counts, set(), keys)
    assert any("fact_team_point.team_id" in p for p in problems)
    dup = [dims[0], dict(dims[0])]
    problems = check_warehouse({"dim_team": dup}, {"dim_team": 2}, set(), keys)
    assert any("duplicate keys" in p for p in problems)


def test_sql_metric_totals_parse_in_seconds_and_bytes():
    from spans import parse_sql_metric

    text = ("total (min, med, max (stageId: taskId))\n"
            "9.3 s (2.3 s, 2.3 s, 2.4 s (stage 0.0: task 0))")
    assert parse_sql_metric(text, "time") == 9.3
    assert parse_sql_metric("145 ms", "time") == 0.145
    assert parse_sql_metric("1.5 m", "time") == 90.0
    assert parse_sql_metric("497.2 KiB", "size") == 497.2 * 1024


def test_percentile_is_a_measured_sample():
    from run import percentile

    samples = [0.5, 0.1, 0.9, 0.3, 0.7]
    assert percentile(samples, 0.5) == 0.5
    assert percentile(samples, 0.9) == 0.9
    assert percentile([2.0], 0.9) == 2.0


def test_rotation_is_seeded_and_moves_half_a_pass():
    from run import rotation

    ops = ("a", "b", "c", "d")
    first = rotation(ops, 7, 0)
    assert sorted(first) == list(ops)
    assert rotation(ops, 7, 0) == first
    assert rotation(ops, 7, 1) == first[2:] + first[:2]


def test_op_geomean_uses_each_operations_median():
    from run import op_geomean
    from registry_ops import OpResult

    def res(name, lat):
        return OpResult(name, lat, 0.0, lat, None)

    passes = [(False, 0.0, [res("a", 1.0), res("b", 4.0)]),
              (False, 0.0, [res("a", 1.0), res("b", 4.0)]),
              (False, 0.0, [res("a", 9.0), res("b", 4.0)])]
    assert abs(op_geomean(passes) - 2.0) < 1e-12


def test_select_covers_modules_and_artifacts_cheaply_then_fills_by_weight():
    from registry_ops import select

    warm = {"heavy": 5.0, "ann_ivf_topk": 3.0, "mid": 2.0, "small": 1.0, "tiny": 0.5,
            "dedup_minhash_suite": 0.3, "other_mod": 0.2}
    module = {n: "m1" for n in warm}
    module["other_mod"] = "m2"
    chosen = select(list(warm), warm, module, budget_s=6.9)
    # coverage: the IVF and MinHash index users, then m2's only op (m1
    # is covered); fill: "heavy" does not fit (3.5 + 5.0), "mid" and
    # "small" do, "tiny" no longer does (6.5 + 0.5 > 6.9)
    assert chosen == ["ann_ivf_topk", "dedup_minhash_suite", "other_mod", "mid", "small"]
