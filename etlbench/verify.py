"""Reads back what the program wrote and compares it with the generator's
truth (`gen.py`). Runs after the benchmark JVM has exited, with DuckDB, so
the check neither shares the CPU with timed work nor trusts Spark to read
its own output.
"""
import collections
import os

import duckdb

import gen


def _con():
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    return con


def _rows(con, sql):
    return sorted(tuple(r) for r in con.execute(sql).fetchall())


def _songs(con, table):
    return _rows(con, f"""
        SELECT song_id, song_name, duration_ms, url, popularity,
               strftime(song_added, '%Y-%m-%d %H:%M:%S'), album_id, artist_id, rank,
               CAST(scrape_date AS VARCHAR)
        FROM read_parquet('{table}/*/*.parquet', hive_partitioning = true)""")


def written(path):
    """(data files, bytes) under path, not counting `_SUCCESS` and `.crc` files."""
    n = size = 0
    for d, _, fs in os.walk(path):
        for f in fs:
            if not f.startswith(("_", ".")):
                n += 1
                size += os.path.getsize(os.path.join(d, f))
    return n, size


def backfill_pass(con, out, truth):
    """Mismatches of one `runBatch` output dir: the three parquet tables
    row for row, the CSV twin's rows, and the rank of every chart slot."""
    bad = []
    albums = _rows(con, f"""SELECT album_id, name, CAST(release_date AS VARCHAR), total_tracks,
        url FROM read_parquet('{out}/album/*.parquet')""")
    if albums != sorted(truth["albums"].values()):
        bad.append("album table")
    artists = _rows(con, f"""SELECT artist_id, artist_name, external_url
        FROM read_parquet('{out}/artist/*.parquet')""")
    if artists != sorted(truth["artists"].values()):
        bad.append("artist table")
    if _songs(con, f"{out}/songs") != sorted(truth["songs"]):
        bad.append("songs table")
    csv = {t: con.execute(f"""SELECT count(*) FROM read_csv('{out}/csv/{t}/*.csv',
        header = true, all_varchar = true)""").fetchone()[0]
           for t in ("album", "artist", "songs")}
    if csv != {"album": len(truth["albums"]), "artist": len(truth["artists"]),
               "songs": len(truth["songs"])}:
        bad.append(f"csv twin rows {csv}")
    slots = _rows(con, f"""SELECT song_id, rank, CAST(scrape_date AS VARCHAR)
        FROM read_csv('{out}/csv/songs/*.csv', header = true, all_varchar = true)""")
    if collections.Counter(slots) != collections.Counter(
            (r[0], str(r[8]), r[9]) for r in truth["songs"]):
        bad.append("csv twin songs")
    return bad


def backfill(rec, truth, landing_bytes, n_files):
    """Mismatches of every pass, one line per failed pass, and per pass what
    was written."""
    problems, facts = [], []
    want = (len(truth["albums"]), len(truth["artists"]), len(truth["songs"]), n_files)
    con = _con()
    for c in rec["checks"]:
        res = c["result"]
        bad = []
        if (res["albums"], res["artists"], res["songs"], res["archived"]) != want:
            bad.append(f"runBatch returned {res}")
        if c["archived"] != n_files:
            bad.append(f"{c['archived']} files archived")
        bad += backfill_pass(con, c["out"], truth)
        if bad:
            problems.append(f"pass {c['pass']} ({c['kind']}): {', '.join(bad)}")
        files, size = written(c["out"])
        facts.append({"files_written": files, "bytes_written": size,
                      "input_bytes": landing_bytes, "ops": 1})
    return problems, facts


def daily(rec, truth, song, days_dir):
    """Mismatches of every day's Q1/Q4 answers and of every songs table the
    run set aside, against the truth of the days landed so far. Returns the
    problems and, per table read back, what was written."""
    problems, facts = [], []
    songs = truth["songs"]
    per_day = gen.ITEMS_PER_DAY
    for i, o in enumerate(rec["ops"]):
        prefix = songs[:o["day"] * per_day]
        bad = []
        if o["rows"] != 1 or o["batches"] != 1:  # one wholetext row per landed file
            bad.append(f"drained {o['rows']} files in {o['batches']} batches")
        if o["q1"] != gen.q1_truth(prefix):
            bad.append("Q1")
        if o["q4"] != gen.q4_truth(prefix, song):
            bad.append("Q4")
        if bad:
            problems.append(f"op {i} ({o['kind']} day {o['day']}): {', '.join(bad)}")
    sizes = [os.path.getsize(os.path.join(days_dir, f)) for f in sorted(os.listdir(days_dir))]
    con = _con()
    for c in rec["checks"]:
        if _songs(con, c["table"]) != sorted(songs[:c["days"] * per_day]):
            problems.append(f"songs table of {c['days']} days")
        files, size = written(c["table"])
        facts.append({"files_written": files, "bytes_written": size,
                      "input_bytes": sum(sizes[:c["days"]]), "ops": c["days"]})
    return problems, facts
