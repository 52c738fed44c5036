"""``football_etl``: the paper's own pipeline, checked against the
generator's truth.

One pass, in a fresh raw layer and a fresh versioned warehouse:

1. ``etl``: land the raw match table in the season-partitioned raw
   store (``pipeline.incremental.merge_into_raw``), transform
   (``pipeline.football.run_pipeline``) and load
   (``pipeline.warehouse.to_warehouse`` + ``write_warehouse``);
2. ``increment``: ``INCREMENTS`` times, one more matchweek is played,
   merged into the raw store, transformed and loaded again;
3. ``dashboard``: the 15 ``plans.dashboard`` queries for the current
   season, plus the league table and top scorers of every season.

Checks (not timed): row counts per warehouse table, unique primary
keys, closed foreign keys, every dashboard answer against the
generator's own records, and — once per run — that re-loading
unchanged raw data leaves every table value-identical.

Fact tables load insert-if-absent (``WAREHOUSE_KEYS``), so standings
keep the values of the first load that saw each (season, team,
category); the expected league tables are those first-load snapshots.
"""

from __future__ import annotations

import math
import os
import time
from collections import Counter
from decimal import ROUND_HALF_UP, Decimal

from football_gen import CLUBS, MATCH_COLS, League, season_name
from registry_ops import OpResult, Workload

# one season of eight clubs, ten of its fourteen matchweeks played
# before the first load, then two weekly increments
INCREMENTS = 2
SEASONS = 1
N_CLUBS = 8
PLAYED_WEEKS = 10
TOP_K = 10


# ---------------------------------------------------------------- warehouse checks

def expected_counts(lg: League) -> dict[str, int]:
    played = [m for m in lg.matches if m.played]
    return {
        "dim_team": lg.n_clubs,
        "dim_stadium": lg.n_clubs,
        "dim_season": len(lg.seasons),
        "dim_match": len(lg.matches),
        "dim_player": len(lg.players),
        "fact_team_match": 2 * len(played),
        "fact_player_match": sum(len(m.lines) for m in played),
        "fact_team_point": 3 * lg.n_clubs * len(lg.seasons),
    }


FOREIGN_KEYS = [
    ("fact_team_match", "team_id", "dim_team", "team_id"),
    ("fact_team_match", "opponent_id", "dim_team", "team_id"),
    ("fact_team_match", "game_id", "dim_match", "match_id"),
    ("fact_team_match", "season", "dim_season", "season_id"),
    ("fact_player_match", "player_id", "dim_player", "player_id"),
    ("fact_player_match", "team_id", "dim_team", "team_id"),
    ("fact_player_match", "game_id", "dim_match", "match_id"),
    ("fact_team_point", "team_id", "dim_team", "team_id"),
    ("fact_team_point", "season_id", "dim_season", "season_id"),
    ("dim_team", "stadium_id", "dim_stadium", "stadium_id"),
]


def check_warehouse(tables: dict[str, list[dict]], counts: dict[str, int],
                    players: set[str], keys: dict[str, tuple[list[str], bool]]) -> list[str]:
    """Row counts, primary keys and foreign keys of a loaded warehouse."""
    problems = []
    for name, want in counts.items():
        rows = tables.get(name)
        if rows is None:
            problems.append(f"{name}: missing")
        elif len(rows) != want:
            problems.append(f"{name}: {len(rows)} rows, expected {want}")
    if "dim_player" in tables:
        extra = sorted({r["player_name"] for r in tables["dim_player"]} - players)
        if extra:
            problems.append(f"dim_player: unknown players {extra[:5]}")
    for name, rows in tables.items():
        pk = keys[name][0]
        dup = [k for k, n in Counter(tuple(r[c] for c in pk) for r in rows).items() if n > 1]
        if dup:
            problems.append(f"{name}: {len(dup)} duplicate keys {pk}, first {dup[0]}")
        if any(r[c] is None for r in rows for c in pk):
            problems.append(f"{name}: NULL in primary key {pk}")
    for child, col, parent, pcol in FOREIGN_KEYS:
        if child in tables and parent in tables:
            known = {r[pcol] for r in tables[parent]}
            orphans = {r[col] for r in tables[child]} - known
            if orphans:
                problems.append(f"{child}.{col}: {len(orphans)} values not in "
                                f"{parent}.{pcol}, e.g. {sorted(orphans, key=str)[:3]}")
    return problems


# ---------------------------------------------------------------- dashboard truth

def _dec2(num: int, den: int) -> Decimal:
    return (Decimal(num) / Decimal(den)).quantize(Decimal("0.01"), rounding=ROUND_HALF_UP)


def _same(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        return a is not None and b is not None and math.isclose(
            float(a), float(b), rel_tol=1e-9, abs_tol=1e-9)
    return a == b


def _rows_equal(got: list[tuple], want: list[tuple]) -> bool:
    return len(got) == len(want) and all(
        len(g) == len(w) and all(_same(x, y) for x, y in zip(g, w)) for g, w in zip(got, want))


def _canon(rows: list[tuple]) -> list[tuple]:
    return sorted(rows, key=lambda r: tuple(str(v) for v in r))


def compare_exact(got: list[tuple], want: list[tuple]) -> str | None:
    return None if _rows_equal(got, want) else f"got {got[:3]} expected {want[:3]}"


def compare_unordered(got: list[tuple], want: list[tuple], key: int | None = None,
                      descending: bool = False) -> str | None:
    """Same rows in any order; when ``key`` is set the rows must also
    be sorted on that column (ties in any order)."""
    if not _rows_equal(_canon(got), _canon(want)):
        return f"rows differ: got {_canon(got)[:3]} expected {_canon(want)[:3]}"
    if key is not None:
        vals = [r[key] for r in got]
        if vals != sorted(vals, reverse=descending):
            return f"not ordered on column {key}: {vals[:6]}"
    return None


def compare_top_k(got: list[tuple], candidates: list[tuple], key: int, k: int) -> str | None:
    """ORDER BY key DESC LIMIT k with ties: ``got`` must be k rows (or
    all candidates), sorted, drawn from ``candidates`` and holding the
    k largest key values."""
    ranked = sorted(candidates, key=lambda r: r[key], reverse=True)
    want_vals = [r[key] for r in ranked[:k]]
    vals = [r[key] for r in got]
    if len(got) != len(want_vals):
        return f"{len(got)} rows, expected {len(want_vals)}"
    if vals != want_vals:
        return f"key values {vals} expected {want_vals}"
    allowed = Counter(_canon(candidates))
    if any(allowed[r] == 0 for r in got) or any(n > allowed[r] for r, n in Counter(got).items()):
        return f"rows not in the expected set: {got[:3]}"
    return None


class DashboardTruth:
    """Expected dashboard answers from the generator's records."""

    def __init__(self, lg: League, first_standings: dict):
        self.lg = lg
        self.first = first_standings    # (season, category) -> [Standing]

    def _name(self, club: int) -> str:
        return CLUBS[club][1]

    def _club(self, team_name: str) -> int:
        return next(i for i, c in enumerate(CLUBS) if c[1] == team_name)

    def _played(self, code: int):
        return [m for m in self.lg.matches if m.season == code and m.played]

    def _player_totals(self, code: int, col: int) -> dict[tuple[str, str], int]:
        out: dict[tuple[str, str], int] = {}
        for m in self._played(code):
            for ln in m.lines:
                k = (self.lg.players[ln[1]].name, self._name(ln[0]))
                out[k] = out.get(k, 0) + ln[col]
        return out

    def check(self, query: str, code: int, team: str, rows: list[tuple]) -> str | None:
        overall = self.first[(code, "overall")]
        if query == "seasons":
            want = [(season_name(c),) for c in sorted(self.lg.seasons, reverse=True)]
            return compare_exact(rows, want)
        if query == "league_table":
            want = [(i, self._name(r.club), r.mp, r.w, r.d, r.l, r.gf, r.ga, r.gf - r.ga, r.pts)
                    for i, r in enumerate(overall, start=1)]
            return compare_exact(rows, want)
        if query in ("top_scorers", "top_assisters"):
            totals = self._player_totals(code, 3 if query == "top_scorers" else 4)
            cands = [(p, t, n) for (p, t), n in totals.items() if n > 0]
            return compare_top_k(rows, cands, 2, TOP_K)
        if query == "team_top_scorers":
            totals = self._player_totals(code, 3)
            cands = [(p, n) for (p, t), n in totals.items() if t == team and n > 0]
            return compare_top_k(rows, cands, 1, TOP_K)
        if query == "season_overview":
            played = self._played(code)
            return compare_exact(rows, [(len(played), float(sum(m.hg + m.ag for m in played)))])
        if query == "season_comparison":
            want = []
            for c in sorted(self.lg.seasons, reverse=True):
                played = self._played(c)
                goals = sum(m.hg + m.ag for m in played)
                if played:
                    want.append((season_name(c), len(played), float(goals),
                                 _dec2(goals, len(played))))
            return compare_exact(rows, want)
        if query == "teams":
            return compare_exact(rows, sorted((self._name(r.club),) for r in overall))
        if query == "team_kpis":
            for rank, r in enumerate(overall, start=1):
                if self._name(r.club) == team:
                    return compare_exact(rows, [(r.w, r.d, r.l, r.gf, r.ga, r.pts, rank)])
            return "team not in standings"
        if query == "xg_vs_goals":
            agg: dict[str, list[float]] = {}
            for m in self._played(code):
                for club, gf, xg in ((m.home, m.hg, m.hxg), (m.away, m.ag, m.axg)):
                    a = agg.setdefault(self._name(club), [0.0, 0.0])
                    a[0] += gf
                    a[1] += xg
            want = [(t, g, x, g - x) for t, (g, x) in agg.items()]
            return compare_unordered(rows, want)
        if query == "home_away":
            home = {r.club: r for r in self.first[(code, "home")]}
            away = {r.club: r for r in self.first[(code, "away")]}
            want = [(self._name(c), home[c].pts, away[c].pts, home[c].w, away[c].w) for c in home]
            got_tot = [(r[0], r[1], r[2], r[3], r[4], r[1] + r[2]) for r in rows]
            problem = compare_unordered([g[:5] for g in got_tot], want)
            if problem is None:
                tot = [g[5] for g in got_tot]
                if tot != sorted(tot, reverse=True):
                    return f"not ordered on total points: {tot[:6]}"
            return problem
        if query in ("defensive_stats", "offensive_stats"):
            defensive = query == "defensive_stats"
            want = [(self._name(r.club), r.ga if defensive else r.gf, r.mp,
                     _dec2(r.ga if defensive else r.gf, r.mp)) for r in overall if r.mp]
            return compare_unordered(rows, want, key=3, descending=not defensive)
        if query == "top_bottom_performers":
            want = [(self._name(r.club), r.pts, r.gf, r.ga, r.gf - r.ga, r.w, r.d, r.l)
                    for r in overall]
            return compare_unordered(rows, want, key=1, descending=True)
        if query == "team_recent_form":
            club = self._club(team)
            games = []
            for m in self._played(code):
                if club in (m.home, m.away):
                    home = m.home == club
                    gf, ga = (m.hg, m.ag) if home else (m.ag, m.hg)
                    res = "W" if gf > ga else "D" if gf == ga else "L"
                    games.append((m.day, self._name(m.away if home else m.home),
                                  "Home" if home else "Away", res, float(gf), float(ga)))
            return compare_exact(rows, sorted(games, reverse=True)[:TOP_K])
        return f"no expected answer for {query}"


# ---------------------------------------------------------------- workload

def _inventory(root: str) -> dict[str, tuple[int, int]]:
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            st = os.stat(os.path.join(dirpath, f))
            out[os.path.join(dirpath, f)] = (st.st_ino, st.st_size)
    return out


def storage_stats(wh_dir: str, tables: list[str]) -> dict[str, float]:
    """Bytes on disk (hard links counted once) against the bytes of the
    live snapshots, and retained versions."""
    from etl_football_analytics_pipeline_spark.sources.versioned import (
        current_version,
        version_dir,
    )

    total = {ino: size for ino, size in _inventory(wh_dir).values()}
    live: dict[int, int] = {}
    versions = 0
    for t in tables:
        tdir = os.path.join(wh_dir, t)
        cur = current_version(tdir)
        if cur is None:
            continue
        versions += sum(1 for d in os.listdir(tdir) if d.startswith("v") and d[1:].isdigit())
        live.update({ino: size for ino, size in _inventory(version_dir(tdir, cur)).values()})
    live_bytes = sum(live.values())
    return {
        "sources.versioned.versions": versions,
        "storage.live_bytes": live_bytes,
        "stored_bytes_ratio": sum(total.values()) / live_bytes if live_bytes else 0.0,
    }


class FootballWorkload(Workload):
    ops = ("etl",)
    min_passes = 3
    end_to_end_extra = {"etl_s": "s", "increment_s": "s", "stored_bytes_ratio": "ratio"}
    layer_extra = {
        "pipeline.football.transform_s": "s",
        "pipeline.warehouse.load_s": "s",
        "pipeline.incremental.merge_raw_s": "s",
        "plans.dashboard.query_s": "s",
        "sources.versioned.versions": "count",
        "storage.files_written": "count",
        "storage.bytes_written": "B",
        "storage.live_bytes": "B",
    }

    def __init__(self, work_dir: str, seed: int):
        self.work = work_dir
        self.seed = seed
        self._pass = 0
        self._loaded: dict = {}
        self.untimed_s = 0.0   # check time inside the current pass
        self.stats: list[dict[str, float]] = []

    def _league(self) -> League:
        return League(self.seed, seasons=SEASONS, played_weeks=PLAYED_WEEKS, clubs=N_CLUBS)

    def prepare(self) -> dict[str, object]:
        lg = self._league()
        return {"seasons": lg.seasons, "matches": len(lg.matches),
                "players": len(lg.players), "played_weeks": PLAYED_WEEKS,
                "increments": INCREMENTS}

    # one pass ------------------------------------------------------------

    def run_pass(self, spark, tracer, _order) -> list[OpResult]:
        from etl_football_analytics_pipeline_spark.pipeline.warehouse import register_warehouse
        from etl_football_analytics_pipeline_spark.plans.dashboard import DASHBOARD_QUERIES

        self._pass += 1
        self.untimed_s = 0.0
        base = os.path.join(self.work, f"pass{self._pass}")
        raw, store, wh = (os.path.join(base, d) for d in ("raw", "raw_store", "warehouse"))
        lg = self._league()
        lg.write(raw)
        self._loaded = {}
        first = {(c, cat): lg.standings(c, cat) for c in lg.seasons
                 for cat in ("overall", "home", "away")}
        results = [self._load(spark, tracer, "etl", lg, raw, store, wh,
                              self._match_rows(lg, None))]
        for _ in range(INCREMENTS):
            week = lg.play_matchweek()
            lg.write(raw)
            results.append(self._load(spark, tracer, f"increment.w{week}", lg, raw,
                                      store, wh, self._match_rows(lg, week)))
        loaded = self._loaded
        register_warehouse(spark, loaded)
        truth = DashboardTruth(lg, first)
        team = CLUBS[self.seed % lg.n_clubs][1]
        for query in DASHBOARD_QUERIES:
            for code in (lg.seasons if query in ("league_table", "top_scorers")
                         else [lg.current]):
                results.append(self._dashboard(spark, tracer, truth, query, code, team))
        self.stats.append(storage_stats(wh, list(loaded)))
        self._last_paths = (raw, wh)
        return results

    def _match_rows(self, lg: League, week: int | None) -> list[tuple]:
        rows = lg.team_match_rows()
        if week is None:
            return [tuple(r) for r in rows]
        col = MATCH_COLS.index("round")
        season = MATCH_COLS.index("season")
        return [tuple(r) for r in rows
                if r[col] == f"Matchweek {week}" and r[season] == str(lg.current)]

    def _load(self, spark, tracer, name, lg, raw, store, wh, delta_rows) -> OpResult:
        from etl_football_analytics_pipeline_spark.pipeline.football import run_pipeline
        from etl_football_analytics_pipeline_spark.pipeline.incremental import merge_into_raw
        from etl_football_analytics_pipeline_spark.pipeline.warehouse import (
            to_warehouse,
            write_warehouse,
        )

        schema = ", ".join(f"`{c}` string" for c in MATCH_COLS)
        delta = spark.createDataFrame(delta_rows, schema)
        before = _inventory(wh) if os.path.isdir(wh) else {}
        problem = None
        phase = "transform" if name == "etl" else "increment"
        with tracer.span(name) as root:
            t0 = time.perf_counter()
            try:
                with tracer.span("merge_raw", phase=phase, op=name):
                    merged = merge_into_raw(spark, delta, store, ["season", "game", "team"])
                t1 = time.perf_counter()
                with tracer.span("transform", phase=phase, op=name):
                    processed = run_pipeline(spark, raw, os.path.join(raw + ".processed", name))
                t2 = time.perf_counter()
                with tracer.span("load", phase="load", op=name):
                    self._loaded = write_warehouse(spark, to_warehouse(processed), wh)
                t3 = time.perf_counter()
            except Exception as exc:  # noqa: BLE001 — one failed op must not end the run
                t1 = t2 = t3 = time.perf_counter()
                problem = f"{type(exc).__name__}: {exc}"[:300]
        counts = tracer.harvest(root) if root is not None else {}
        counts.update({
            "pipeline.incremental.merge_raw_s": t1 - t0,
            "pipeline.football.transform_s": t2 - t1,
            "pipeline.warehouse.load_s": t3 - t2,
        })
        after = _inventory(wh) if os.path.isdir(wh) else {}
        new = [v for p, v in after.items() if p not in before]
        counts["storage.files_written"] = len(new)
        counts["storage.bytes_written"] = sum(size for _ino, size in new)
        if problem is None:
            tc = time.perf_counter()
            problem = self._check_load(lg, merged)
            self.untimed_s += time.perf_counter() - tc
        return OpResult(name, t3 - t0, 0.0, 0.0, problem, counts)

    def _dashboard(self, spark, tracer, truth, query, code, team) -> OpResult:
        from etl_football_analytics_pipeline_spark.plans.dashboard import (
            DASHBOARD_QUERIES,
            run_dashboard_query,
        )

        name = f"dashboard.{query}" + ("" if code == truth.lg.current else f".{code}")
        params = {"season_name": season_name(code), "team_name": team, "limit": TOP_K}
        wanted = {k: params[k] for k in DASHBOARD_QUERIES[query][1]}
        with tracer.span(name) as root:
            t0 = time.perf_counter()
            try:
                with tracer.span("build", phase="dashboard", op=name):
                    df = run_dashboard_query(spark, query, **wanted)
                t1 = time.perf_counter()
                with tracer.span("collect", phase="dashboard", op=name):
                    rows = [tuple(r) for r in df.collect()]
                t2 = time.perf_counter()
                problem = truth.check(query, code, team, rows)
                self.untimed_s += time.perf_counter() - t2
            except Exception as exc:  # noqa: BLE001 — one failed op must not end the run
                t1 = t2 = time.perf_counter()
                problem = f"{type(exc).__name__}: {exc}"[:300]
        counts = tracer.harvest(root) if root is not None else {}
        counts["plans.dashboard.query_s"] = t2 - t0
        return OpResult(name, t2 - t0, t1 - t0, t2 - t1, problem, counts)

    def _check_load(self, lg: League, merged) -> str | None:
        """Raw store and warehouse checks right after a load, before the
        next commit retires the snapshot they read (not timed)."""
        from etl_football_analytics_pipeline_spark.pipeline.warehouse import WAREHOUSE_KEYS

        try:
            tables = {t: [r.asDict() for r in df.collect()] for t, df in self._loaded.items()}
            problems = check_warehouse(tables, expected_counts(lg),
                                       {p.name for p in lg.players}, WAREHOUSE_KEYS)
            got = merged.count()
            got_played = merged.filter("result <> ''").count()
        except Exception as exc:  # noqa: BLE001 — reported as a failed check
            return f"check failed: {type(exc).__name__}: {exc}"[:300]
        want, want_played = 2 * len(lg.matches), 2 * sum(m.played for m in lg.matches)
        if (got, got_played) != (want, want_played):
            problems.append(f"raw store: {got} rows ({got_played} played), expected "
                            f"{want} ({want_played} played)")
        return "; ".join(problems) or None

    def check_pending(self, results: list[OpResult]) -> None:
        """Every check already ran next to its operation."""

    def final_checks(self, spark) -> list[OpResult]:
        """Re-load unchanged raw data into the last warehouse: every
        table must stay value-identical (not timed)."""
        from etl_football_analytics_pipeline_spark.pipeline.football import run_pipeline
        from etl_football_analytics_pipeline_spark.pipeline.warehouse import (
            to_warehouse,
            write_warehouse,
        )

        raw, wh = self._last_paths
        before = {t: _canon([tuple(r) for r in df.collect()]) for t, df in self._loaded.items()}
        problem = None
        try:
            processed = run_pipeline(spark, raw, os.path.join(raw + ".processed", "reload"))
            after_dfs = write_warehouse(spark, to_warehouse(processed), wh)
            changed = [t for t, df in after_dfs.items()
                       if _canon([tuple(r) for r in df.collect()]) != before.get(t)]
            if changed:
                problem = f"re-load changed tables {changed}"
        except Exception as exc:  # noqa: BLE001 — reported as a failed check
            problem = f"{type(exc).__name__}: {exc}"[:300]
        return [OpResult("reload_unchanged", 0.0, 0.0, 0.0, problem)]

    # metrics ---------------------------------------------------------------

    def end_to_end(self, passes) -> dict[str, float]:
        import statistics

        etl = [r.latency_s for _t, _s, res in passes for r in res if r.name == "etl"]
        inc = [r.latency_s for _t, _s, res in passes for r in res
               if r.name.startswith("increment")]
        return {
            "etl_s": statistics.median(etl),
            "increment_s": statistics.median(inc),
            "stored_bytes_ratio": self.stats[-1]["stored_bytes_ratio"],
        }

    def layers(self, traced) -> dict[str, float]:
        out = {k: 0.0 for k in self.layer_extra}
        for _s, res in traced:
            for r in res:
                for k in ("pipeline.football.transform_s", "pipeline.warehouse.load_s",
                          "pipeline.incremental.merge_raw_s", "plans.dashboard.query_s",
                          "storage.files_written", "storage.bytes_written"):
                    out[k] += r.counts.get(k, 0.0) / len(traced)
        last = self.stats[-1]
        out["sources.versioned.versions"] = last["sources.versioned.versions"]
        out["storage.live_bytes"] = last["storage.live_bytes"]
        return out
