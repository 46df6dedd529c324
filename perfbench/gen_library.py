"""Seeded iTunes Library XML generator with its expected answers.

Writes `<out>/library.xml` (an Apple plist: TRACKS tracks, PLAYLISTS
playlists in a folder tree, a master "Library" playlist), `<out>/ops.json`
(the PAGES playlists to page and export, and the ad-hoc SQL text) and
`<out>/expected.json`, the answers the library workload's outputs are checked
against, computed here from the generated rows rather than by the program
under test.

The library carries the edge cases the loader must survive: null Rating,
Genre, Album and Location; ratings that are not multiples of 20; keys the
schema does not declare (`Sort Name`, `Artwork Count`, `Master`); non-ASCII
and XML-escaped names; playlists with no items; duplicate playlist names;
and one playlist item pointing at a track that does not exist.

Usage: python3 perfbench/gen_library.py OUT_DIR SEED TRACKS PLAYLISTS PAGES
"""
import json
import os
import random
import re
import sys
from xml.sax.saxutils import escape


WORDS = ["love", "night", "the", "river", "blue", "fire", "dream", "gold",
         "city", "rain", "heart", "echo", "wild", "storm", "light", "road",
         "Björk", "Café", "Zoë", "Straße", "東京", "Ñandú", "Łódź", "mañana",
         "rock & roll", "<intro>"]
ARTISTS = ["Sigur Rós", "The Wanderers", "Mötley Crew", "Simon & Friends",
           "Nightfall", "東京 Ensemble", "Los Ríos", "DJ Shadow Box",
           "The Quiet Ones", "Echo Park", "Björk Tribute", "Riverbend"]
GENRES = ["Rock", "Pop", "Jazz", "Electronic", "Classical", "Hip-Hop",
          "Folk", "Soundtrack", "Ambient", "Métal"]
KINDS = ["MPEG audio file", "AAC audio file", "Apple Lossless audio file",
         "MPEG-4 video file"]
MIX_NAMES = ["Mix", "Favorites", "Road Trip", "Chill", "Workout", "Party",
             "Focus", "Late Night", "Sunday", "Café Set"]

# ad-hoc selections through the MySQL dialect surface: the MySQL text the
# workload runs, the generated rows it reads (tracks or playlists), and the
# Python predicate that must select exactly the same ids
SQL_SELECTIONS = {
    "regexp_ci": ("SELECT Track_ID FROM tracks WHERE Name REGEXP '^the '", "tracks",
                  lambda t: re.match(r"(?i)the ", t["Name"]) is not None),
    "regexp_binary": ("SELECT Track_ID FROM tracks WHERE Artist REGEXP BINARY 'Mötley|Sigur'",
                      "tracks", lambda t: re.search("Mötley|Sigur", t["Artist"]) is not None),
    "regexp_genre": ("SELECT Track_ID FROM tracks WHERE Genre REGEXP 'rock|pop' AND Year < 1990",
                     "tracks", lambda t: t["Genre"] is not None and t["Year"] < 1990
                     and re.search(r"(?i)rock|pop", t["Genre"]) is not None),
    "regexp_playlist": ("SELECT Playlist_ID FROM playlists WHERE Name REGEXP '^(mix|chill) [0-9]+$'",
                        "playlists",
                        lambda p: re.match(r"(?i)(mix|chill) [0-9]+$", p["Name"]) is not None),
    "like_ci": ("SELECT Track_ID FROM tracks WHERE Album LIKE '%river%' AND Genre IS NOT NULL",
                "tracks", lambda t: t["Album"] is not None and "river" in t["Album"].lower()
                and t["Genre"] is not None),
    "like_rating": ("SELECT Track_ID FROM tracks WHERE Kind LIKE 'mpeg%' AND Rating >= 80",
                    "tracks", lambda t: t["Kind"].lower().startswith("mpeg")
                    and t["Rating"] is not None and t["Rating"] >= 80),
    "like_artist": ("SELECT Track_ID FROM tracks WHERE Artist LIKE 'the %' AND Play_Count > 150",
                    "tracks", lambda t: t["Artist"].lower().startswith("the ")
                    and t["Play Count"] > 150),
    "not_like": ("SELECT Track_ID FROM tracks WHERE Name NOT LIKE '%a%' AND Year >= 2000",
                 "tracks", lambda t: "a" not in t["Name"].lower() and t["Year"] >= 2000),
}


def _pid(rng):
    return "".join(rng.choice("0123456789ABCDEF") for _ in range(16))


def _title(rng, k):
    return " ".join(rng.choice(WORDS) for _ in range(k)).capitalize()


def _tracks(rng, n_tracks):
    tracks = []
    for i in range(n_tracks):
        tid = 1000 + 2 * i
        artist = rng.choice(ARTISTS)
        album = None if rng.random() < 0.03 else _title(rng, rng.randint(1, 3))
        name = ("The " if rng.random() < 0.1 else "") + _title(rng, rng.randint(1, 4))
        r = rng.random()
        rating = None if r < 0.35 else rng.choice([0, 20, 40, 60, 80, 100, 50, 90])
        loc = None
        if rng.random() >= 0.01:
            loc = ("file://localhost/Users/me/Music/iTunes/Media/"
                   f"{artist.replace(' ', '%20')}/{tid}%20track.m4a")
        tracks.append({
            "Track ID": tid, "Name": name, "Artist": artist, "Album": album,
            "Genre": None if rng.random() < 0.08 else rng.choice(GENRES),
            "Kind": rng.choice(KINDS), "Rating": rating,
            "Total Time": rng.randint(30_000, 600_000),
            "Track Number": rng.randint(1, 20), "Disc Number": 1,
            "Size": rng.randint(1_000_000, 20_000_000),
            "Play Count": rng.randint(0, 300),
            "Persistent ID": _pid(rng), "Location": loc,
            "Date Added": None if rng.random() < 0.02 else
            f"20{rng.randint(5, 23):02d}-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}T12:00:00Z",
            "Year": rng.randint(1960, 2024), "Bit Rate": rng.choice([128, 256, 320]),
            "Sample Rate": 44100, "Skip Count": rng.randint(0, 20),
            "Sort Name": name.lower(), "Artwork Count": 1,
        })
    return tracks


def _playlists(rng, tracks, n_playlists):
    ids = [t["Track ID"] for t in tracks]
    n_folders = max(2, n_playlists // 12)
    max_items = max(5, len(ids) // 50)
    folders = []
    for f in range(n_folders):
        parent = folders[rng.randrange(len(folders))]["Playlist Persistent ID"] \
            if folders and rng.random() < 0.3 else None
        folders.append({"Name": f"Folder {f}", "Playlist Persistent ID": _pid(rng),
                        "Parent Persistent ID": parent, "Folder": True, "items": []})
    lists = [{"Name": "Library", "Playlist Persistent ID": _pid(rng),
              "Parent Persistent ID": None, "Master": True, "items": list(ids)}]
    for p in range(n_playlists - n_folders - 1):
        name = f"{rng.choice(MIX_NAMES)} {p}" if rng.random() < 0.9 else rng.choice(MIX_NAMES)
        n = 0 if rng.random() < 0.04 else rng.randint(5, max_items)
        items = rng.sample(ids, n)
        parent = rng.choice(folders)["Playlist Persistent ID"] if rng.random() < 0.6 else None
        lists.append({"Name": name, "Playlist Persistent ID": _pid(rng),
                      "Parent Persistent ID": parent, "items": items})
    # a dangling playlist item: restored playlists can name deleted tracks
    lists[-1]["items"].append(999_999)
    out = lists[:1] + folders + lists[1:]
    for i, pl in enumerate(out):
        pl["Playlist ID"] = 50_000 + i
    return out


def _kv(key, v, ind):
    if v is None:
        return ""
    if isinstance(v, bool):
        return f"{ind}<key>{key}</key><{'true' if v else 'false'}/>\n"
    if isinstance(v, int):
        return f"{ind}<key>{key}</key><integer>{v}</integer>\n"
    if key == "Date Added":
        return f"{ind}<key>{key}</key><date>{v}</date>\n"
    return f"{ind}<key>{key}</key><string>{escape(v)}</string>\n"


def _xml(tracks, playlists):
    out = ['<?xml version="1.0" encoding="UTF-8"?>\n',
           '<!DOCTYPE plist PUBLIC "-//Apple//DTD PLIST 1.0//EN" '
           '"http://www.apple.com/DTDs/PropertyList-1.0.dtd">\n',
           '<plist version="1.0">\n<dict>\n',
           "\t<key>Major Version</key><integer>1</integer>\n",
           "\t<key>Application Version</key><string>12.8</string>\n",
           "\t<key>Tracks</key>\n\t<dict>\n"]
    for t in tracks:
        out.append(f"\t\t<key>{t['Track ID']}</key>\n\t\t<dict>\n")
        out.extend(_kv(k, v, "\t\t\t") for k, v in t.items())
        out.append("\t\t</dict>\n")
    out.append("\t</dict>\n\t<key>Playlists</key>\n\t<array>\n")
    for pl in playlists:
        out.append("\t\t<dict>\n")
        out.extend(_kv(k, v, "\t\t\t") for k, v in pl.items() if k != "items")
        if pl["items"]:
            out.append("\t\t\t<key>Playlist Items</key>\n\t\t\t<array>\n")
            out.extend(f"\t\t\t\t<dict><key>Track ID</key><integer>{i}</integer></dict>\n"
                       for i in pl["items"])
            out.append("\t\t\t</array>\n")
        out.append("\t\t</dict>\n")
    out.append("\t</array>\n</dict>\n</plist>\n")
    return "".join(out)


def _stars(rating):
    return 0 if rating is None else rating // 20


def expected(tracks, playlists, pages):
    by_id = {t["Track ID"]: t for t in tracks}
    stats = {}
    for pl in playlists:
        for i in pl["items"]:
            if i in by_id:
                key = (pl["Playlist ID"], _stars(by_id[i]["Rating"]) * 20)
                stats[key] = stats.get(key, 0) + 1
    page_hist, members = {}, {}
    for name in pages:
        hist, mem = {}, []
        for pl in playlists:
            if pl["Name"] == name:
                for i in pl["items"]:
                    if i in by_id:
                        s = _stars(by_id[i]["Rating"])
                        hist[s] = hist.get(s, 0) + 1
                        mem.append(by_id[i])
        page_hist[name] = sorted([s, n] for s, n in hist.items())
        members[name] = {"rows": len(mem),
                         "with_location": sum(t["Location"] is not None for t in mem)}
    return {
        "library_stats": [len(tracks),
                          len({t["Album"] for t in tracks if t["Album"] is not None}),
                          len({t["Artist"] for t in tracks})],
        "playlist_stats": sorted([p, r, n] for (p, r), n in stats.items()),
        "pages": pages,
        "page_hist": page_hist,
        "members": members,
        "sql_ids": {k: sorted(r["Track ID"] if src == "tracks" else r["Playlist ID"]
                              for r in (tracks if src == "tracks" else playlists) if f(r))
                    for k, (_, src, f) in SQL_SELECTIONS.items()},
    }


def generate(out_dir, seed, n_tracks, n_playlists, n_pages):
    rng = random.Random(seed)
    tracks = _tracks(rng, n_tracks)
    playlists = _playlists(rng, tracks, n_playlists)
    names = [pl["Name"] for pl in playlists]
    # page and export playlists of similar size whatever the seed
    big = max(len(pl["items"]) for pl in playlists[1:]) // 2
    unique = [pl["Name"] for pl in playlists
              if names.count(pl["Name"]) == 1 and pl["Name"] != "Library"
              and not pl.get("Folder") and len(pl["items"]) >= big]
    pages = rng.sample(unique, n_pages)
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, "library.xml"), "w", encoding="utf-8") as f:
        f.write(_xml(tracks, playlists))
    with open(os.path.join(out_dir, "expected.json"), "w", encoding="utf-8") as f:
        json.dump(expected(tracks, playlists, pages), f, ensure_ascii=False)
    # what the benchmark program is told to run; the answers stay in
    # expected.json, which only the checker reads
    with open(os.path.join(out_dir, "ops.json"), "w", encoding="utf-8") as f:
        json.dump({"pages": pages, "sql": {k: q for k, (q, _, _) in SQL_SELECTIONS.items()}},
                  f, ensure_ascii=False)


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]), *(int(a) for a in sys.argv[3:6]))
