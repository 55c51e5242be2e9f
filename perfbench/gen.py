"""Seeded generator of the ``lake_ingest`` inputs.

``write_sparkify`` writes the reference ETL's raw inputs, Sparkify song
files and NDJSON event logs, from the run's ``--seed``.  It returns the
answers it planted, which the ``lake_ingest`` output check compares
against the written star schema.

Only NumPy is used: no Spark session exists while inputs are generated,
so generation stays out of every timed region.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import numpy as np

# -- Sparkify raw inputs -------------------------------------------------

#: Sizes of one lake_ingest input set (songs, artists, log events).
SPARKIFY_SIZE = {"songs": 60, "artists": 6, "events": 10000}

_PAGES = [
    "Home", "Login", "Logout", "Settings", "Save Settings", "About", "Help",
    "Upgrade", "Submit Upgrade", "Downgrade", "Submit Downgrade", "Error",
]
_FIRST = ["Ava", "Ben", "Cora", "Dan", "Elena", "Finn", "Gia", "Hugo", "Ivy", "Jack"]
_LAST = ["Moss", "Reed", "Stone", "Vale", "Wolfe", "Young", "Zane", "Cruz"]
_CITIES = ["Tampa-St. Petersburg, FL", "Lansing, MI", "Chicago, IL", "Austin, TX", "Portland, OR"]
_AGENT = "Mozilla/5.0 (X11; Linux x86_64) AppleWebKit/537.36"
_LETTERS = "ABC"


@dataclass(frozen=True)
class Planted:
    """Answers the generator knows about the inputs it wrote."""

    input_bytes: int
    songs: int
    artists: int
    #: NextSong events.  Their times are distinct, so this is also the
    #: time table's row count.
    nextsong: int
    users: int
    songplays: int
    songplays_nov: int
    songs_year0: int


def _track_id(rng: np.random.Generator, i: int) -> str:
    letters = "".join(rng.choice(list(_LETTERS), 3))
    return f"TR{letters}{i:06d}"


def write_sparkify(out_dir: str, seed: int) -> Planted:
    """Write song files (``song_data/A/B/C/TR*.json``, one JSON object
    each, like the reference's ``song-data/*/*/*/*.json``) and daily
    NDJSON logs (``log_data/YYYY/MM/*-events.json``) under ``out_dir``.

    Logs cover November and December 2018, mix NextSong with the other
    Sparkify pages, and carry an empty ``userId`` on ~2 % of events (the
    logged-out traffic).  About a third of NextSong events name a
    (title, artist) pair that exists in the song files, so the songplays
    join has planted matches.
    """
    rng = np.random.default_rng(seed)
    n_songs, n_artists, n_events = SPARKIFY_SIZE["songs"], SPARKIFY_SIZE["artists"], SPARKIFY_SIZE["events"]

    artist_ids = [f"AR{seed % 1000:03d}{i:05d}" for i in range(n_artists)]
    artist_names = [f"Artist {seed}-{i}" for i in range(n_artists)]
    artist_loc = rng.choice(_CITIES + [""], n_artists)
    lat = np.round(rng.uniform(-60, 60, n_artists), 5)
    lon = np.round(rng.uniform(-150, 150, n_artists), 5)
    has_geo = rng.random(n_artists) < 0.45

    song_artist = rng.integers(0, n_artists, n_songs)
    song_year = np.where(rng.random(n_songs) < 0.4, 0, rng.integers(1960, 2011, n_songs))
    song_dur = np.round(rng.uniform(90.0, 480.0, n_songs), 5)
    titles = [f"Song {seed}-{i}" for i in range(n_songs)]

    total = 0
    for i in range(n_songs):
        tid = _track_id(rng, i)
        d = os.path.join(out_dir, "song_data", tid[2], tid[3], tid[4])
        os.makedirs(d, exist_ok=True)
        a = int(song_artist[i])
        rec = {
            "num_songs": 1,
            "artist_id": artist_ids[a],
            "artist_latitude": float(lat[a]) if has_geo[a] else None,
            "artist_longitude": float(lon[a]) if has_geo[a] else None,
            "artist_location": str(artist_loc[a]),
            "artist_name": artist_names[a],
            "song_id": f"SO{seed % 1000:03d}{i:06d}",
            "title": titles[i],
            "duration": float(song_dur[i]),
            "year": int(song_year[i]),
        }
        data = json.dumps(rec).encode()
        with open(os.path.join(d, f"{tid}.json"), "wb") as f:
            f.write(data)
        total += len(data)

    n_users = 100
    user_first = rng.choice(_FIRST, n_users)
    user_last = rng.choice(_LAST, n_users)
    user_gender = rng.choice(["F", "M"], n_users)
    start_ms = int(np.datetime64("2018-11-01", "ms").astype(np.int64))
    span_ms = 61 * 86_400_000
    # Distinct event times: the time dimension's row count is then exactly
    # the number of NextSong events.
    ts = start_ms + np.sort(rng.choice(span_ms, n_events, replace=False))
    is_next = rng.random(n_events) < 0.8
    logged_out = rng.random(n_events) < 0.02
    user = rng.integers(0, n_users, n_events)
    matched = rng.random(n_events) < 0.35
    pick_song = rng.integers(0, n_songs, n_events)
    other_page = rng.choice(_PAGES, n_events)
    level = rng.choice(["free", "paid"], n_events)
    session = rng.integers(1, 1200, n_events)

    nov_end = int(np.datetime64("2018-12-01", "ms").astype(np.int64))
    by_day: dict[str, list[bytes]] = {}
    planted_users: set[int] = set()
    n_next = n_plays = n_plays_nov = 0
    for k in range(n_events):
        u = int(user[k])
        uid = "" if logged_out[k] else str(u + 1)
        if is_next[k]:
            n_next += 1
            if uid:
                planted_users.add(u)
            if matched[k]:
                s = int(pick_song[k])
                song, artist, length = titles[s], artist_names[int(song_artist[s])], float(song_dur[s])
                n_plays += 1
                n_plays_nov += int(ts[k] < nov_end)
            else:
                song, artist, length = f"Unknown {k}", f"Band {k % 97}", 200.0
            page, method = "NextSong", "PUT"
        else:
            song = artist = length = None
            page, method = str(other_page[k]), "GET"
        rec = {
            "artist": artist,
            "auth": "Logged Out" if not uid else "Logged In",
            "firstName": None if not uid else str(user_first[u]),
            "gender": None if not uid else str(user_gender[u]),
            "itemInSession": k % 50,
            "lastName": None if not uid else str(user_last[u]),
            "length": length,
            "level": str(level[k]),
            "location": None if not uid else _CITIES[u % len(_CITIES)],
            "method": method,
            "page": page,
            "registration": 1540000000000.0 + u * 1000.0,
            "sessionId": int(session[k]),
            "song": song,
            "status": 200,
            "ts": int(ts[k]),
            "userAgent": _AGENT,
            "userId": uid,
        }
        day = str(np.datetime64(int(ts[k]), "ms").astype("datetime64[D]"))
        by_day.setdefault(day, []).append(json.dumps(rec).encode())
    for day, lines in by_day.items():
        d = os.path.join(out_dir, "log_data", day[:4], day[5:7])
        os.makedirs(d, exist_ok=True)
        data = b"\n".join(lines) + b"\n"
        with open(os.path.join(d, f"{day}-events.json"), "wb") as f:
            f.write(data)
        total += len(data)

    return Planted(
        input_bytes=total,
        songs=n_songs,
        artists=len(set(song_artist.tolist())),
        nextsong=n_next,
        users=len(planted_users),
        songplays=n_plays,
        songplays_nov=n_plays_nov,
        songs_year0=int((song_year == 0).sum()),
    )
