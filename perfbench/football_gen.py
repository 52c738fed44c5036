"""Seeded generator of raw football CSVs, with the generator's own truth.

A league of 20 clubs plays double round-robin seasons (38 matchweeks,
380 matches). The generator writes the raw layer the pipeline reads
(``pipeline.football.run_pipeline``) with the dirty traits of
FIXTURES.md section A:

- ``dim_team.csv``: alias headers (``club_id``/``club_label``/
  ``founding_year``/``venue_id``), Wikidata ``Q`` ids, full club names
  with ``F.C.`` suffixes, blank short codes, an embedded header row;
- ``dim_stadium.csv``: ``Q`` ids, the ``venue_label`` alias, a short
  malformed line, a literal ``capacity`` row, an embedded header row;
- ``fbref_fact_team_match.csv``: team-name variants (``Manchester
  United`` / ``Manchester Utd``), ``YYYY-MM-DD 00:00:00`` dates,
  ``Matchweek N`` rounds, empty results for unplayed fixtures;
- ``fbref_fact_player_season_stats.csv``: flattened two-level headers
  (``Playing Time_MP``), unicode names, an embedded header row;
- ``fbref_fact_player_match_stats.csv``: an embedded header row as the
  first data row, team-name variants, players absent from the season
  stats;
- ``team_point.csv``: ``YYYY-YYYY`` seasons, ranks written ``1.`` /
  ``1.0``, the composite ``GF:GA`` field, ``?`` in recent form.

The current season is partly played; ``play_matchweek`` plays one more
matchweek (a weekly increment) and rewrites the raw files in place,
keeping every existing row at its file position so that file-order ids
stay stable. ``football.py`` derives the expected warehouse contents and
dashboard answers from these records, never from the pipeline.
"""

from __future__ import annotations

import csv
import os
import random
from dataclasses import dataclass, field
from datetime import date, timedelta

# (dim_team full name, warehouse team name, FBref names used in match
# files, standings display name, short code written to dim_team or ""
# when the pipeline must fill it from the full name)
CLUBS = [
    ("Arsenal F.C.", "Arsenal", ("Arsenal",), "Arsenal", "ARS"),
    ("Aston Villa F.C.", "Aston Villa", ("Aston Villa",), "Aston Villa", ""),
    ("AFC Bournemouth", "Bournemouth", ("Bournemouth",), "Bournemouth", "BOU"),
    ("Brentford F.C.", "Brentford", ("Brentford",), "Brentford", ""),
    ("Brighton & Hove Albion F.C.", "Brighton",
     ("Brighton", "Brighton & Hove Albion"), "Brighton", "BHA"),
    ("Chelsea F.C.", "Chelsea", ("Chelsea",), "Chelsea", "CHE"),
    ("Crystal Palace F.C.", "Crystal Palace", ("Crystal Palace",), "Crystal Palace", ""),
    ("Everton F.C.", "Everton", ("Everton",), "Everton", "EVE"),
    ("Fulham F.C.", "Fulham", ("Fulham",), "Fulham", ""),
    ("Ipswich Town F.C.", "Ipswich Town", ("Ipswich Town",), "Ipswich", "IPS"),
    ("Leicester City F.C.", "Leicester City", ("Leicester City",), "Leicester", ""),
    ("Liverpool F.C.", "Liverpool", ("Liverpool",), "Liverpool", "LIV"),
    ("Manchester City F.C.", "Manchester City", ("Manchester City",), "Manchester City", ""),
    ("Manchester United F.C.", "Manchester Utd",
     ("Manchester Utd", "Manchester United"), "Manchester Utd", "MUN"),
    ("Newcastle United F.C.", "Newcastle Utd",
     ("Newcastle Utd", "Newcastle United"), "Newcastle", ""),
    ("Nottingham Forest F.C.", "Nott'Ham Forest",
     ("Nott'ham Forest", "Nottingham Forest"), "Nottingham", "NOT"),
    ("Southampton F.C.", "Southampton", ("Southampton",), "Southampton", ""),
    ("Tottenham Hotspur F.C.", "Tottenham",
     ("Tottenham", "Tottenham Hotspur"), "Tottenham", "TOT"),
    ("West Ham United F.C.", "West Ham", ("West Ham", "West Ham United"), "West Ham", ""),
    ("Wolverhampton Wanderers F.C.", "Wolves",
     ("Wolves", "Wolverhampton Wanderers"), "Wolves", "WOL"),
]
FIRST = ["Martin", "João", "Björn", "Luis", "Kai", "Mateo", "Sven", "Élie", "Noah",
         "Reece", "Ola", "Dániel", "Yves", "Kevin", "Ørjan", "Théo", "Pau", "Emil"]
LAST = ["Ødegaard", "Silva", "Larsson", "Díaz", "Havertz", "Kovačić", "Botman", "Mendy",
        "Okafor", "James", "Aina", "Szoboszlai", "Bissouma", "Schär", "Nyland",
        "Hernández", "Torres", "Smith", "Gündoğan", "Núñez", "Wood", "Rice"]
NATIONS = ["ENG", "BRA", "ESP", "FRA", "GER", "NOR", "NED", "POR", "ARG", "BEL"]
POSITIONS = ["GK", "DF", "DF", "DF", "DF", "MF", "MF", "MF", "FW", "FW", "FW,MF"]
FORMATIONS = ["4-3-3", "4-2-3-1", "3-5-2", "4-4-2", "3-4-3"]
DAYS = ["Mon", "Tue", "Wed", "Thu", "Fri", "Sat", "Sun"]
SQUAD = 18          # season-stats players per club
MATCH_ONLY = 2      # extra players per club seen only in match stats
LINEUP = 14         # players per club per match

MATCH_COLS = [
    "league", "season", "team", "opponent", "game", "date", "time", "round", "day",
    "venue", "result", "GF", "GA", "xG", "xGA", "Poss", "Attendance", "Captain",
    "Formation", "Opp Formation", "Referee", "match_report", "Notes",
]
SEASON_STAT_COLS = [
    "league", "season", "team", "player", "nation", "pos", "age", "born",
    "Playing Time_MP", "Playing Time_Starts", "Playing Time_Min", "Playing Time_90s",
    "Performance_Gls", "Performance_Ast", "Performance_G+A", "Performance_PK",
    "Performance_PKatt", "Performance_CrdY", "Performance_CrdR",
    "Expected_xG", "Expected_npxG", "Expected_xAG",
]
PLAYER_MATCH_COLS = [
    "season", "game", "team", "player", "nation", "pos", "min",
    "Performance_Gls", "Performance_Ast", "Performance_PK", "Performance_PKatt",
    "Performance_Sh", "Performance_SoT", "Performance_CrdY", "Performance_CrdR",
    "Performance_Touches", "Performance_Tkl", "Performance_Int", "Performance_Blocks",
    "Expected_xG", "Expected_xAG", "SCA_SCA", "SCA_GCA", "Passes_Cmp", "Passes_Att",
    "Passes_Cmp%", "Passes_PrgP", "Carries_Carries", "Carries_PrgC",
    "Take-Ons_Att", "Take-Ons_Succ",
]
STANDING_COLS = ["season_id", "Match_Category", "Rank", "Team", "MP", "W", "D", "L",
                 "GF:GA", "GD", "Pts", "Recent_Form"]


@dataclass
class Player:
    name: str
    club: int
    nation: str
    pos: str
    born: int | None      # None for match-only players
    in_season_stats: bool


@dataclass
class Match:
    season: int           # encoded YYZZ, e.g. 2425
    week: int
    day: date
    home: int
    away: int
    played: bool = False
    hg: int = 0
    ag: int = 0
    hxg: float = 0.0
    axg: float = 0.0
    # (club, player index, minutes, goals, assists) per appearance
    lines: list[tuple[int, int, int, int, int]] = field(default_factory=list)

    def game(self) -> str:
        return f"{self.day.isoformat()} {CLUBS[self.home][2][0]}-{CLUBS[self.away][2][0]}"


def season_name(code: int) -> str:
    return f"20{code // 100:02d}-20{code % 100:02d}"


def _fixtures(n: int, rng: random.Random) -> list[list[tuple[int, int]]]:
    """Double round-robin by the circle method: 2(n-1) weeks of n/2
    matches, every club at home once against every other club."""
    clubs = list(range(n))
    rng.shuffle(clubs)
    weeks = []
    for r in range(n - 1):
        pairs = []
        for i in range(n // 2):
            a, b = clubs[i], clubs[n - 1 - i]
            pairs.append((a, b) if (r + i) % 2 == 0 else (b, a))
        weeks.append(pairs)
        clubs = [clubs[0]] + [clubs[-1]] + clubs[1:-1]
    return weeks + [[(b, a) for a, b in w] for w in weeks]


class League:
    """All generated state; ``write(raw_dir)`` lands it as raw CSVs."""

    def __init__(self, seed: int, seasons: int = 3, played_weeks: int = 30,
                 clubs: int = 20, squad: int = SQUAD, match_only: int = MATCH_ONLY,
                 lineup: int = LINEUP):
        self.rng = random.Random(seed)
        self.n_clubs = clubs
        self.squad = squad
        self.lineup = lineup
        first_code = 2425 - 101 * (seasons - 1)
        self.seasons = [first_code + 101 * i for i in range(seasons)]
        self.current = self.seasons[-1]
        self.players: list[Player] = []
        used: set[str] = set()
        self.roster: dict[int, list[int]] = {}
        for c in range(clubs):
            idx = []
            for k in range(squad + match_only):
                name = f"{self.rng.choice(FIRST)} {self.rng.choice(LAST)}"
                if name in used:
                    name = f"{name} {len(used)}"
                used.add(name)
                in_stats = k < squad
                self.players.append(Player(
                    name, c, self.rng.choice(NATIONS), self.rng.choice(POSITIONS),
                    self.rng.randint(1988, 2005) if in_stats else None, in_stats))
                idx.append(len(self.players) - 1)
            self.roster[c] = idx
        self.stadium_ids = [100 + 7 * c for c in range(clubs)]
        self.team_ids = [9600 + 13 * c for c in range(clubs)]
        self.matches: list[Match] = []
        for code in self.seasons:
            start = date(2000 + code // 100, 8, 10)
            for w, pairs in enumerate(_fixtures(clubs, self.rng), start=1):
                for i, (h, a) in enumerate(pairs):
                    day = start + timedelta(days=7 * (w - 1) + i % 3)
                    self.matches.append(Match(code, w, day, h, a))
        self._debuted: set[int] = set()
        self.weeks_played = {code: 2 * (clubs - 1) for code in self.seasons}
        self.weeks_played[self.current] = played_weeks
        for m in self.matches:
            if m.week <= self.weeks_played[m.season]:
                self._play(m)

    @property
    def total_weeks(self) -> int:
        return 2 * (self.n_clubs - 1)

    def _play(self, m: Match) -> None:
        rng = self.rng
        m.played = True
        m.hg, m.ag = rng.choice([0, 0, 1, 1, 1, 2, 2, 3, 4]), rng.choice([0, 0, 1, 1, 2, 2, 3])
        m.hxg, m.axg = round(rng.uniform(0.2, 3.2), 1), round(rng.uniform(0.1, 2.6), 1)
        for club, goals in ((m.home, m.hg), (m.away, m.ag)):
            roster = self.roster[club]
            squad, extra = roster[: self.squad], roster[self.squad:]
            # match-only players appear in each club's first match, so
            # later increments introduce no new player names
            if club in self._debuted:
                picks = rng.sample(squad + extra, self.lineup)
            else:
                picks = rng.sample(squad, self.lineup - len(extra)) + extra
                self._debuted.add(club)
            scorers = [rng.choice(picks) for _ in range(goals)]
            assists = [rng.choice(picks) for _ in range(max(0, goals - 1))]
            for p in picks:
                m.lines.append((club, p, rng.choice([90, 90, 90, 75, 60, 23]),
                                scorers.count(p), assists.count(p)))

    def play_matchweek(self) -> int:
        """Play the current season's next matchweek; returns its number."""
        week = self.weeks_played[self.current] + 1
        if week > self.total_weeks:
            raise ValueError("current season already complete")
        for m in self.matches:
            if m.season == self.current and m.week == week:
                self._play(m)
        self.weeks_played[self.current] = week
        return week

    # ---------------------------------------------------------------- raw files

    def write(self, raw_dir: str) -> None:
        os.makedirs(raw_dir, exist_ok=True)
        self._write_dims(raw_dir)
        self._write_team_match(raw_dir)
        self._write_season_stats(raw_dir)
        self._write_player_match(raw_dir)
        self._write_standings(raw_dir)

    def _write_dims(self, raw_dir: str) -> None:
        header = ["club_id", "club_label", "founding_year", "venue_id", "short_name"]
        rows = [header]
        for c in range(self.n_clubs):
            full, *_rest, code = CLUBS[c]
            rows.append([f"Q{self.team_ids[c]}", full, str(1870 + 3 * c),
                         f"Q{self.stadium_ids[c]}", code])
            if c == 7:
                rows.append(header)  # embedded duplicate header row
        _write_csv(os.path.join(raw_dir, "dim_team.csv"), rows)
        header = ["stadium_id", "venue_label", "capacity"]
        rows = [header]
        for c in range(self.n_clubs):
            rows.append([f"Q{self.stadium_ids[c]}", f"{CLUBS[c][1]} Stadium",
                         str(20_000 + 1_500 * c)])
            if c == 4:
                rows.append(["Q999"])                    # short malformed line
            if c == 9:
                rows.append(["Q998", "Stand", "capacity"])  # literal capacity row
            if c == 14:
                rows.append(header)
        _write_csv(os.path.join(raw_dir, "dim_stadium.csv"), rows)

    def _captain(self, m: Match, club: int) -> str:
        lines = [ln for ln in m.lines if ln[0] == club]
        return self.players[lines[0][1]].name if lines else ""

    def _write_team_match(self, raw_dir: str) -> None:
        _write_csv(os.path.join(raw_dir, "fbref_fact_team_match.csv"),
                   [MATCH_COLS] + self.team_match_rows())

    def team_match_rows(self) -> list[list[str]]:
        """Two rows per fixture, one from each club's side, in file order."""
        rows = []
        for i, m in enumerate(self.matches):
            for side in (0, 1):
                club, opp = (m.home, m.away) if side == 0 else (m.away, m.home)
                gf, ga = (m.hg, m.ag) if side == 0 else (m.ag, m.hg)
                xg, xga = (m.hxg, m.axg) if side == 0 else (m.axg, m.hxg)
                variants = CLUBS[club][2]
                team = variants[(i + side) % len(variants)]
                ovariants = CLUBS[opp][2]
                opponent = ovariants[(i + 1 - side) % len(ovariants)]
                day = m.day.isoformat() + (" 00:00:00" if i % 5 == 0 else "")
                result = ("W" if gf > ga else "D" if gf == ga else "L") if m.played else ""
                num = (lambda v: str(v)) if m.played else (lambda v: "")
                rows.append([
                    "ENG-Premier League", str(m.season), team, opponent, m.game(), day,
                    "15:00:00", f"Matchweek {m.week}", DAYS[m.day.weekday()],
                    "Home" if side == 0 else "Away", result, num(gf), num(ga), num(xg),
                    num(xga), num(50 + (i % 9) - 4 if side == 0 else 50 - (i % 9) + 4),
                    num(30_000 + 17 * i), self._captain(m, club) if m.played else "",
                    FORMATIONS[(i + side) % 5], FORMATIONS[(i + 1 - side) % 5],
                    "A Referee", "Match Report", "",
                ])
        return rows

    def _write_season_stats(self, raw_dir: str) -> None:
        rows = [SEASON_STAT_COLS]
        tallies = self.player_season_tallies()
        for code in self.seasons:
            rows.append(SEASON_STAT_COLS)  # embedded duplicate header row
            for pi, p in enumerate(self.players):
                if not p.in_season_stats:
                    continue
                mp, mins, gls, ast = tallies.get((code, pi), (0, 0, 0, 0))
                rows.append([
                    "ENG-Premier League", str(code), CLUBS[p.club][2][0], p.name, p.nation,
                    p.pos, f"{2000 + code // 100 - p.born}-{(pi * 37) % 365:03d}",
                    str(p.born), str(mp), str(mp), str(mins), f"{mins / 90:.1f}", str(gls),
                    str(ast), str(gls + ast), "0", "0", "0", "0", "0.0", "0.0", "0.0",
                ])
        _write_csv(os.path.join(raw_dir, "fbref_fact_player_season_stats.csv"), rows)

    def _write_player_match(self, raw_dir: str) -> None:
        rows = [PLAYER_MATCH_COLS, PLAYER_MATCH_COLS]  # header + embedded header row
        for i, m in enumerate(self.matches):
            for j, (club, pi, mins, gls, ast) in enumerate(m.lines):
                p = self.players[pi]
                variants = CLUBS[club][2]
                rows.append([
                    str(m.season), m.game(), variants[(i + j) % len(variants)], p.name,
                    p.nation, p.pos, str(mins), str(gls), str(ast), "0", "0",
                    str(gls + j % 3), str(gls + j % 2), str(j % 7 == 0 and 1 or 0), "0",
                    str(30 + j), str(j % 4), str(j % 3), str(j % 2), f"{0.1 * gls:.1f}",
                    f"{0.1 * ast:.1f}", str(j % 5), str(gls), str(20 + j), str(25 + j),
                    f"{100 * (20 + j) / (25 + j):.1f}", str(j % 6), str(10 + j), str(j % 4),
                    str(j % 3), str(j % 2),
                ])
        _write_csv(os.path.join(raw_dir, "fbref_fact_player_match_stats.csv"), rows)

    def _write_standings(self, raw_dir: str) -> None:
        rows = [STANDING_COLS]
        for code in self.seasons:
            for cat in ("overall", "home", "away"):
                for rank, r in enumerate(self.standings(code, cat), start=1):
                    rank_txt = (f"{rank}.", f"{rank}.0", str(rank))[rank % 3]
                    form = r.form if rank % 7 else r.form[:-1] + "?"
                    rows.append([
                        season_name(code), cat, rank_txt, CLUBS[r.club][3], str(r.mp),
                        str(r.w), str(r.d), str(r.l), f"{r.gf}:{r.ga}", str(r.gf - r.ga),
                        str(r.pts), form,
                    ])
        _write_csv(os.path.join(raw_dir, "team_point.csv"), rows)

    # ---------------------------------------------------------------- truth inputs

    def player_season_tallies(self) -> dict[tuple[int, int], tuple[int, int, int, int]]:
        """(season, player index) → (matches, minutes, goals, assists)."""
        out: dict[tuple[int, int], list[int]] = {}
        for m in self.matches:
            for _club, pi, mins, gls, ast in m.lines:
                t = out.setdefault((m.season, pi), [0, 0, 0, 0])
                t[0] += 1
                t[1] += mins
                t[2] += gls
                t[3] += ast
        return {k: tuple(v) for k, v in out.items()}

    def standings(self, code: int, category: str) -> list["Standing"]:
        """Standings from played matches, ranked by points, goal
        difference, goals scored, then club name."""
        table = {c: Standing(c) for c in range(self.n_clubs)}
        for m in sorted(self.matches, key=lambda x: x.day):
            if m.season != code or not m.played:
                continue
            if category in ("overall", "home"):
                table[m.home].add(m.hg, m.ag)
            if category in ("overall", "away"):
                table[m.away].add(m.ag, m.hg)
        return sorted(table.values(),
                      key=lambda r: (-r.pts, -(r.gf - r.ga), -r.gf, CLUBS[r.club][1]))


@dataclass
class Standing:
    club: int
    mp: int = 0
    w: int = 0
    d: int = 0
    l: int = 0  # noqa: E741 — the standings column name
    gf: int = 0
    ga: int = 0
    results: str = ""

    def add(self, gf: int, ga: int) -> None:
        self.mp += 1
        self.gf += gf
        self.ga += ga
        r = "W" if gf > ga else "D" if gf == ga else "L"
        self.w += r == "W"
        self.d += r == "D"
        self.l += r == "L"
        self.results += r

    @property
    def pts(self) -> int:
        return 3 * self.w + self.d

    @property
    def form(self) -> str:
        return self.results[-5:].rjust(5, "-")


def _write_csv(path: str, rows: list[list[str]]) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w", newline="", encoding="utf-8") as fh:
        csv.writer(fh, lineterminator="\n").writerows(rows)
    os.replace(tmp, path)
