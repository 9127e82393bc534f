"""Seeded raw-playlist generator for the ETL workloads, with its ground truth.

One file per day, named `spotify_raw_<yyyyMMddHHmmss>.json`, each a JSON
array of 50 playlist items shaped like the Spotify playlist API
(`graft.model.Spotify.rawItem`). The chart carries over from day to day,
as a daily Top 50 does: every charting track holds a score that takes a
small random step each day, the CHURN lowest-scoring tracks leave, and as
many new tracks enter, drawn from the rest of a Zipf-weighted catalogue.
The chart is ordered by score. Albums and artists are shared between
tracks, which gives the dedup steps real work.

The catalogue sizes, the Zipf exponent, the churn and the score step
below are assumptions, not fitted to real chart data: no sample of real
daily charts is in the repository to fit them to. They set the dedup
ratios the traced run reports (`operators.dedup_kept_ratio.*`).

The truth records what a correct pipeline must produce from these files:
the distinct album and artist rows, every song row with its rank, and the
answers of the trending (Q1) and chart-movement (Q4) queries (`verify.py`
compares them).
"""
import datetime as dt
import json
import math
import os
import random

ITEMS_PER_DAY = 50
N_ARTISTS = 400
N_ALBUMS = 700
N_TRACKS = 2500
ZIPF_S = 1.1
CHURN = 5  # tracks that leave the chart, and enter it, each day
SCORE_STEP = 0.3  # standard deviation of a charting track's daily score step
FIRST_DAY = dt.date(2023, 1, 1)
B62 = "0123456789ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz"


def _sid(rng):
    return "".join(rng.choice(B62) for _ in range(22))


def _catalogue(rng):
    artists = [{"id": _sid(rng), "name": f"Artist {i} {_sid(rng)[:5]}"}
               for i in range(N_ARTISTS)]
    for a in artists:
        a["href"] = f"https://api.spotify.com/v1/artists/{a['id']}"
    albums = []
    for i in range(N_ALBUMS):
        y, m, d = rng.randint(1965, 2023), rng.randint(1, 12), rng.randint(1, 28)
        precision = rng.choice(("day", "day", "month", "year"))
        raw = {"day": f"{y:04d}-{m:02d}-{d:02d}", "month": f"{y:04d}-{m:02d}",
               "year": f"{y:04d}"}[precision]
        parsed = {"day": f"{y:04d}-{m:02d}-{d:02d}", "month": f"{y:04d}-{m:02d}-01",
                  "year": f"{y:04d}-01-01"}[precision]
        aid = _sid(rng)
        albums.append({
            "id": aid, "name": f"Album {i} {_sid(rng)[:6]}", "release_date": raw,
            "release_date_parsed": parsed, "total_tracks": rng.randint(1, 24),
            "url": f"https://open.spotify.com/album/{aid}",
            "artists": rng.sample(artists, rng.choice((1, 1, 1, 2)))})
    tracks = []
    for i in range(N_TRACKS):
        album = albums[rng.randrange(N_ALBUMS)]
        extra = rng.sample(artists, rng.choice((0, 0, 1, 2)))
        tid = _sid(rng)
        tracks.append({
            "id": tid, "name": f"Song {i} {_sid(rng)[:6]}",
            "duration_ms": rng.randint(95_000, 420_000),
            "popularity": rng.randint(20, 100),
            "url": f"https://open.spotify.com/track/{tid}",
            "album": album,
            "artists": album["artists"][:1] + [a for a in extra if a is not album["artists"][0]]})
    return tracks


def _ref(a):
    return {"id": a["id"], "name": a["name"], "href": a["href"], "type": "artist",
            "uri": f"spotify:artist:{a['id']}"}


def _item(t, added_at, rng):
    al = t["album"]
    return {
        "added_at": added_at,
        "is_local": False,
        "track": {
            "id": t["id"], "name": t["name"], "duration_ms": t["duration_ms"],
            "popularity": t["popularity"], "explicit": rng.random() < 0.2,
            "track_number": rng.randint(1, max(al["total_tracks"], 1)),
            "external_urls": {"spotify": t["url"]},
            "album": {
                "id": al["id"], "name": al["name"], "release_date": al["release_date"],
                "total_tracks": al["total_tracks"], "album_type": "album",
                "external_urls": {"spotify": al["url"]},
                "artists": [_ref(a) for a in al["artists"]]},
            "artists": [_ref(a) for a in t["artists"]]}}


def _draw(rng, weights, n, exclude):
    """n distinct track indices outside `exclude`, a weighted draw without
    replacement (Efraimidis-Spirakis: the n largest keys u^(1/w))."""
    keys = sorted(((rng.random() ** (1.0 / w), i) for i, w in enumerate(weights)
                   if i not in exclude), reverse=True)
    return [i for _, i in keys[:n]]


def _next_chart(rng, scores, weights):
    """One day's step of the chart, a {track index: score} map, in place;
    returns the chart's track indices, best first."""
    if scores:
        for i in scores:
            scores[i] += rng.gauss(0.0, SCORE_STEP)
        for i in sorted(scores, key=lambda i: (scores[i], i))[:CHURN]:
            del scores[i]
    for i in _draw(rng, weights, ITEMS_PER_DAY - len(scores), scores):
        scores[i] = math.log(weights[i]) + rng.gauss(0.0, SCORE_STEP)
    return sorted(scores, key=lambda i: (-scores[i], i))


def generate(seed, days, out_dir):
    """Write `days` daily files into out_dir; return (file names, truth)."""
    rng = random.Random(seed)
    tracks = _catalogue(rng)
    weights = [1.0 / (r + 1) ** ZIPF_S for r in range(N_TRACKS)]
    os.makedirs(out_dir, exist_ok=True)
    names, songs, albums, artists, artist_refs = [], [], {}, {}, 0
    scores = {}
    for d in range(days):
        day = FIRST_DAY + dt.timedelta(days=d)
        scraped = dt.datetime(day.year, day.month, day.day, 6, rng.randrange(60),
                              rng.randrange(60))
        name = f"spotify_raw_{scraped:%Y%m%d%H%M%S}.json"
        items = []
        for rank, ti in enumerate(_next_chart(rng, scores, weights), start=1):
            t = tracks[ti]
            added = (scraped - dt.timedelta(seconds=rng.randrange(86400 * 30)))
            added_at = f"{added:%Y-%m-%dT%H:%M:%S}Z"
            items.append(_item(t, added_at, rng))
            al = t["album"]
            # keep-first: the earliest (scrape_date, position) occurrence wins;
            # catalogue rows are constant per id, so any occurrence is that row
            albums.setdefault(al["id"], (al["id"], al["name"], al["release_date_parsed"],
                                         al["total_tracks"], al["url"]))
            for a in t["artists"]:
                artists.setdefault(a["id"], (a["id"], a["name"], a["href"]))
            artist_refs += len(t["artists"])
            songs.append((t["id"], t["name"], t["duration_ms"], t["url"], t["popularity"],
                          f"{added:%Y-%m-%d %H:%M:%S}", al["id"], al["artists"][0]["id"],
                          rank, day.isoformat()))
        with open(os.path.join(out_dir, name), "w") as f:
            json.dump(items, f, separators=(",", ":"))
        names.append(name)
    return names, {"albums": albums, "artists": artists, "songs": songs,
                   "dedup_inputs": {"album": len(songs), "artist": artist_refs}}


def q1_truth(songs):
    """Top-10 trending: rank, date, id order over the last 8 dates of data."""
    last = max(dt.date.fromisoformat(r[9]) for r in songs)
    lo = (last - dt.timedelta(days=7)).isoformat()
    rows = sorted((r[8], r[9], r[0]) for r in songs if r[9] >= lo)
    return [[sid, rank, d] for rank, d, sid in rows[:10]]


def q4_truth(songs, song_id):
    """Chart movement of one song: (date, rank, rank minus previous rank)."""
    rows = sorted((r[9], r[8]) for r in songs if r[0] == song_id)
    out, prev = [], None
    for d, rank in rows:
        out.append([d, rank, None if prev is None else rank - prev])
        prev = rank
    return out


def q4_song(songs):
    """The song Q4 follows: the most frequent one, ties to the smallest id."""
    counts = {}
    for r in songs:
        counts[r[0]] = counts.get(r[0], 0) + 1
    return min(counts, key=lambda s: (-counts[s], s))
