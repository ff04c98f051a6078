#!/usr/bin/env python3
"""Deterministic F1 season generator: Hive-partitioned bronze Parquet.

Each season has 23 Grand Prix weekends (qualifying + race); 20 of a
30-driver pool race each weekend for 10 two-seat teams. Per weekend:
qualifying arrays of length 1-3 by elimination, 0-3 DNFs, 50-64 laps per
classified driver (about 26k laps a season) with ~2% sector-sum-fallback
laps and ~0.5% laps with no time, about 2 pit stops per driver with ~5%
out-of-range rows, and team changes at rounds 1, 8 and 15 (a seat swap, a
reserve promoted, a seat swap). A driver never returns to a team he has
left, so the SCD2 stint count is the number of distinct (driver, team)
pairs observed.

Writes <out>/<table>/year=<y>/grand_prix=<slug>/*.parquet for the tables
sessions, qualifying, race_results, laps, pitstops and drivers, and
<out>/weekends.tsv: one line per weekend with the row counts the silver,
SCD2 and gold layers must produce from it.

Usage: gen_season.py <out_dir> <seed> <seasons> [last_season_weekends]
"""
import datetime as dt
import os
import random
import re
import shutil
import sys
import unicodedata

import pyarrow as pa
import pyarrow.parquet as pq

POOL_SIZE = 30
POINTS = [25, 18, 15, 12, 10, 8, 6, 4, 2, 1]
COMPOUNDS = ["SOFT", "MEDIUM", "HARD"]
TEAMS = [("Oracle Red Bull Racing", "#3671C6"), ("Scuderia Ferrari", "#E80020"),
         ("Mercedes-AMG PETRONAS F1 Team", "#27F4D2"),
         ("McLaren Formula 1 Team", "#FF8000"),
         ("Aston Martin Aramco F1 Team", "#229971"),
         ("BWT Alpine F1 Team", "#0093CC"), ("Williams Racing", "#64C4FF"),
         ("Visa Cash App RB F1 Team", "#6692FF"),
         ("Stake F1 Team Kick Sauber", "#52E252"),
         ("MoneyGram Haas F1 Team", "#B6BABD")]
# 23 Grand Prix names with a base lap time in seconds
CALENDAR = [
    ("Australian Grand Prix", 80.2), ("Chinese Grand Prix", 94.1),
    ("Japanese Grand Prix", 90.9), ("Bahrain Grand Prix", 92.6),
    ("Saudi Arabian Grand Prix", 88.1), ("Miami Grand Prix", 87.5),
    ("Emilia Romagna Grand Prix", 76.0), ("Monaco Grand Prix", 73.2),
    ("Spanish Grand Prix", 72.8), ("Canadian Grand Prix", 73.9),
    ("Austrian Grand Prix", 65.0), ("British Grand Prix", 85.3),
    ("Belgian Grand Prix", 103.5), ("Hungarian Grand Prix", 76.6),
    ("Dutch Grand Prix", 69.5), ("Italian Grand Prix", 79.3),
    ("Azerbaijan Grand Prix", 101.4), ("Singapore Grand Prix", 92.1),
    ("United States Grand Prix", 94.3), ("Mexico City Grand Prix", 76.3),
    ("São Paulo Grand Prix", 69.9), ("Qatar Grand Prix", 80.1),
    ("Abu Dhabi Grand Prix", 82.6)]
FIRST = ("Max Lewis Charles Lando Oscar George Carlos Fernando Pierre Esteban "
         "Yuki Alex Nico Kimi Oliver Gabriel Isack Liam Franco Jack Valtteri "
         "Sergio Daniel Kevin Zhou Logan").split()
LAST = ("Verstappen Hamilton Leclerc Norris Piastri Russell Sainz Alonso Gasly "
        "Ocon Tsunoda Albon Hulkenberg Antonelli Bearman Bortoleto Hadjar "
        "Lawson Colapinto Doohan Bottas Perez Ricciardo Magnussen Guanyu "
        "Sargeant Stroll Vettel Raikkonen Button Rosberg").split()
COUNTRIES = ("NED GBR MON AUS ESP FRA JPN THA GER ITA BRA NZL ARG FIN MEX CAN "
             "DEN CHN USA").split()
UTC = dt.timezone.utc

i32, i64, f64, s, b = pa.int32(), pa.int64(), pa.float64(), pa.string(), pa.bool_()
ts = pa.timestamp("us", tz="UTC")
SCHEMAS = {
    "sessions": [("session_key", i64), ("session_type", s), ("meeting_key", i64),
                 ("meeting_name", s), ("date_start", ts), ("date_end", ts)],
    "qualifying": [("session_key", i64), ("session_type", s),
                   ("driver_number", i32), ("position", i32),
                   ("duration", pa.list_(f64))],
    "race_results": [("session_key", i64), ("session_type", s),
                     ("driver_number", i32), ("position", i32),
                     ("grid_position", i32), ("points", f64), ("duration", f64),
                     ("gap_to_leader", f64), ("dnf", b), ("dns", b), ("dsq", b)],
    "laps": [("session_key", i64), ("driver_number", i32), ("lap_number", i32),
             ("lap_duration", f64), ("duration_sector_1", f64),
             ("duration_sector_2", f64), ("duration_sector_3", f64),
             ("segments_sector_1", pa.list_(i32)), ("position_at_lap", i32),
             ("gap_to_leader_millis", i64), ("interval_to_ahead_millis", i64),
             ("tire_compound", s), ("track_status", s), ("session_type", s)],
    "pitstops": [("session_key", i64), ("driver_number", i32),
                 ("lap_number", i32), ("pit_duration", f64),
                 ("positions_lost_gained", i32), ("undercut_attempt", b),
                 ("safety_car_stop", b), ("tire_compound_old", s),
                 ("tire_compound_new", s)],
    "drivers": [("driver_number", i32), ("team_name", s), ("broadcast_name", s),
                ("full_name", s), ("country_code", s), ("team_colour", s),
                ("name_acronym", s), ("date_start", ts), ("session_type", s),
                ("session_key", i64)],
}


def slug(name):
    """The partition value the silver layer derives from a meeting name
    ('São Paulo Grand Prix' -> 'sao_paulo')."""
    n = unicodedata.normalize("NFD", name.lower().removesuffix(" grand prix"))
    n = "".join(c for c in n if not unicodedata.combining(c)).strip()
    return re.sub("[^a-z0-9]+", "_", n)


def r3(x):
    return round(x, 3)


class Season:
    def __init__(self, seed, seasons, last_weekends=len(CALENDAR),
                 last_year=2025):
        self.rng = random.Random(seed)
        self.years = list(range(last_year - seasons + 1, last_year + 1))
        self.rows = {t: [] for t in SCHEMAS}
        self.weekends = []
        rng = self.rng
        numbers = rng.sample(range(2, 100), POOL_SIZE)
        self.pool = []
        for i, n in enumerate(numbers):
            first = FIRST[rng.randrange(len(FIRST))]
            last = LAST[(i * 7 + rng.randrange(len(LAST))) % len(LAST)]
            self.pool.append(dict(number=n, full=f"{first} {last}",
                                  broadcast=f"{first[0]} {last.upper()}",
                                  acronym=last[:3].upper(),
                                  country=COUNTRIES[rng.randrange(len(COUNTRIES))],
                                  pace=0.6 + rng.random() * 0.8))
        self.seats = [[2 * t, 2 * t + 1] for t in range(len(TEAMS))]
        self.held = {d: {t} for t in range(len(TEAMS)) for d in self.seats[t]}
        self.stint_set, self.driver_set = set(), set()
        for y in self.years:
            n = last_weekends if y == self.years[-1] else len(CALENDAR)
            for i, (name, base) in enumerate(CALENDAR[:n]):
                rnd = i + 1
                if (y != self.years[0] or rnd != 1) and rnd in (1, 15):
                    self.swap_teams()
                if rnd == 8:
                    self.promote_reserve()
                self.weekend(y, rnd, name, base)

    def swap_teams(self):
        seated = [(t, k) for t in range(len(TEAMS)) for k in (0, 1)]
        cands = [(a, b) for a in seated for b in seated if a[0] < b[0]]
        self.rng.shuffle(cands)
        for (ta, sa), (tb, sb) in cands:
            da, db = self.seats[ta][sa], self.seats[tb][sb]
            if tb not in self.held[da] and ta not in self.held[db]:
                self.seats[ta][sa], self.seats[tb][sb] = db, da
                self.held[da].add(tb)
                self.held[db].add(ta)
                return

    def promote_reserve(self):
        seated = {d for team in self.seats for d in team}
        reserves = [d for d in range(POOL_SIZE) if d not in seated]
        slots = [(t, k) for t in range(len(TEAMS)) for k in (0, 1)]
        self.rng.shuffle(reserves)
        self.rng.shuffle(slots)
        for r in reserves:
            for t, k in slots:
                if t not in self.held.get(r, set()):
                    self.seats[t][k] = r
                    self.held.setdefault(r, set()).add(t)
                    return

    def weekend(self, year, rnd, name, base):
        rng, pool, rows = self.rng, self.pool, self.rows
        gp = slug(name)
        mk = year * 100 + rnd
        q_key, r_key = mk * 10 + 1, mk * 10 + 2
        race_day = dt.datetime(year, 3, 2, 15, tzinfo=UTC) + dt.timedelta(days=10 * (rnd - 1))
        q_start, q_end = race_day - dt.timedelta(days=1, hours=1), race_day - dt.timedelta(days=1)
        r_end = race_day + dt.timedelta(minutes=95 + rng.randrange(30))
        part = (year, gp)
        rows["sessions"] += [(q_key, "Qualifying", mk, name, q_start, q_end, *part),
                             (r_key, "Race", mk, name, race_day, r_end, *part)]

        lineup = [(self.seats[t][k], t) for t in range(len(TEAMS)) for k in (0, 1)]
        for d, t in lineup:
            p = pool[d]
            self.stint_set.add((p["number"], t))
            self.driver_set.add(p["number"])
            for key, typ, start in ((q_key, "Qualifying", q_start), (r_key, "Race", race_day)):
                rows["drivers"].append((p["number"], TEAMS[t][0], p["broadcast"], p["full"],
                                        p["country"], TEAMS[t][1], p["acronym"], start,
                                        typ, key, *part))

        # qualifying: order by pace plus noise; Q1 eliminates 16-20, Q2 11-15
        q_order = sorted(((d, base * (1 + 0.01 * pool[d]["pace"] + 0.004 * rng.gauss(0, 1)))
                          for d, _ in lineup), key=lambda x: x[1])
        grid = {}
        for i, (d, best) in enumerate(q_order):
            segs = 3 if i < 10 else 2 if i < 15 else 1
            times = [r3(best + 0.3 * (segs - 1 - k) + 0.05 * rng.random()) for k in range(segs)]
            rows["qualifying"].append((q_key, "Qualifying", pool[d]["number"], i + 1, times, *part))
            grid[d] = i + 1

        # race: 0-3 DNFs, the rest classified by pace plus noise
        race_laps = 50 + (rnd * 7) % 15
        drivers = [d for d, _ in lineup]
        dnf = set(rng.sample(drivers, rng.randrange(4)))
        finishers = [d for d, _ in sorted(((d, pool[d]["pace"] + 0.5 * rng.gauss(0, 1))
                                           for d in drivers if d not in dnf), key=lambda x: x[1])]
        winner = base * race_laps * (1 + 0.002 * rng.gauss(0, 1))
        gap = 0.0
        for i, d in enumerate(finishers):
            if i > 0:
                gap += 0.5 + 8 * rng.random()
            rows["race_results"].append((
                r_key, "Race", pool[d]["number"], i + 1, grid[d],
                float(POINTS[i]) if i < len(POINTS) else 0.0, r3(winner + gap),
                None if i == 0 else r3(gap), False, False, False, *part))
        for d in sorted(dnf):
            rows["race_results"].append((r_key, "Race", pool[d]["number"], None, grid[d],
                                         0.0, None, None, True, False, False, *part))

        classified = {d: i for i, d in enumerate(finishers)}
        laps_valid = pits_valid = 0
        for d in drivers:
            n = pool[d]["number"]
            done = 1 + rng.randrange(race_laps - 1) if d in dnf else race_laps
            pos = classified.get(d, len(finishers) + sorted(dnf).index(d) if d in dnf else 0)
            stops = 1 + rng.randrange(3)
            stop_laps = [max(1, done * k // (stops + 1)) for k in range(1, stops + 1)]
            for lap in range(1, done + 1):
                t = base * (1 + 0.01 * pool[d]["pace"] + 0.006 * rng.gauss(0, 1))
                s1, s2 = r3(t * 0.31), r3(t * 0.36)
                s3 = r3(t - s1 - s2)
                u = rng.random()
                if u < 0.005:  # no usable time: silver drops the lap
                    lap_t, sec = None, (None, None, None)
                else:
                    laps_valid += 1
                    lap_t = None if u < 0.025 else r3(t)  # sector-sum fallback
                    sec = (s1, s2, s3)
                stint = sum(1 for x in stop_laps if x < lap)
                rows["laps"].append((
                    r_key, n, lap, lap_t, *sec, [2048 + rng.randrange(3), 2049, 2051],
                    pos + 1, (pos * 1500 + rng.randrange(900)) * lap // done,
                    500 + rng.randrange(1500), COMPOUNDS[(stint + pos) % 3],
                    "YELLOW" if rng.random() < 0.03 else "GREEN", "Race", *part))
            for k, lap in enumerate(stop_laps):
                u = rng.random()
                ms = (None if u < 0.02 else 0.0 if u < 0.035
                      else 1200000.0 + rng.randrange(100000) if u < 0.05
                      else 20000.0 + rng.randrange(9000) + rng.randrange(1000) / 1000)
                if ms is not None and 0 < ms < 999000:
                    pits_valid += 1
                rows["pitstops"].append((
                    r_key, n, lap, ms, rng.randrange(5) - 2, rng.random() < 0.3,
                    rng.random() < 0.1, COMPOUNDS[(k + pos) % 3],
                    COMPOUNDS[(k + pos + 1) % 3], *part))
        self.weekends.append((year, rnd, gp, r_end.strftime("%Y-%m-%d %H:%M:%S"),
                              laps_valid, pits_valid, len(self.stint_set),
                              len(self.driver_set)))

    def write(self, out):
        shutil.rmtree(out, ignore_errors=True)
        for t, cols in SCHEMAS.items():
            names = [c for c, _ in cols] + ["year", "grand_prix"]
            data = list(zip(*self.rows[t]))
            schema = pa.schema(cols + [("year", i32), ("grand_prix", s)])
            table = pa.table([pa.array(c, typ) for c, typ in zip(data, schema.types)],
                             names=names)
            pq.write_to_dataset(table, os.path.join(out, t),
                                partition_cols=["year", "grand_prix"])
        with open(os.path.join(out, "weekends.tsv"), "w") as f:
            for w in self.weekends:
                f.write("\t".join(map(str, w)) + "\n")


def generate(out, seed, seasons, last_weekends=len(CALENDAR)):
    Season(seed, seasons, last_weekends).write(out)


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]), int(sys.argv[3]),
             int(sys.argv[4]) if len(sys.argv) > 4 else len(CALENDAR))
