"""Seeded plain-format ``pg_dump`` generators for the two OSM workloads.

Each generator writes one dump file with COPY sections for all 12 tables
(column lists in the order the OSM API schema has them, with columns the
program does not read, as a real dump would) and returns the ground truth:
the expected count of every element, changeset and comment type in each
output, derived from the filter rules of FIXTURES.md:

- a row with a ``redaction_id`` is dropped everywhere;
- an element with a negative id is dropped everywhere;
- the current view keeps each id's latest non-redacted version, and only
  if that version is visible;
- attribution (``user``/``uid``) needs a changeset whose user is public;
- comments count only when visible, and a discussion renders a visible
  comment only when its author is public.

Rows are drawn from one ``random.Random(seed)`` in a fixed order and
written by one thread, so a seed always gives a byte-identical file.
"""

from __future__ import annotations

import datetime as dt
import os
import random

BASE_TS = dt.datetime(2012, 3, 1, 0, 0, 0)

#: words for bodies and tag values.  Never contains ``uid=``/``user=``, so
#: the no-userinfo check cannot match generated text.
WORDS = (
    "road", "bridge", "fixme", "survey", "import", "rename", "Straße",
    "église", "東京", "Ωmega", "a&b", "x<y", "q>p", 'say "hi"', "it's",
    "back\\slash", "tab\there", "line\nbreak", "bell\x07", "ctl\x01",
)
KEYS = ("highway", "name", "name:de", "Ä", "z", "addr:street", "ü:key",
        "source", "building", "名前", "oneway", "amenity")
ROLES = ("outer", "inner", "", "stop", "platform", "via")
MEMBER_TYPES = ("Node", "Way", "Relation")


def copy_escape(s: str) -> str:
    """COPY text escaping as ``pg_dump`` writes it: backslash, newline,
    carriage return and tab; every other character goes out raw."""
    return (
        s.replace("\\", "\\\\")
        .replace("\n", "\\n")
        .replace("\r", "\\r")
        .replace("\t", "\\t")
    )


class _Ts(str):
    """A timestamp field: written as is, never escaped."""


def _ts(seconds: int) -> _Ts:
    return _Ts((BASE_TS + dt.timedelta(seconds=seconds)).strftime("%Y-%m-%d %H:%M:%S"))


class _Dump:
    """Accumulates COPY sections in the fixed table order of a dump."""

    ORDER = (
        "changeset_comments", "changeset_tags", "changesets", "node_tags",
        "nodes", "relation_members", "relation_tags", "relations", "users",
        "way_nodes", "way_tags", "ways",
    )
    COLUMNS = {
        "changeset_comments": "id, changeset_id, author_id, body, created_at, visible",
        "changeset_tags": "changeset_id, k, v",
        "changesets": "id, user_id, created_at, min_lat, max_lat, min_lon, "
                      "max_lon, closed_at, num_changes",
        "node_tags": "node_id, version, k, v",
        "nodes": 'node_id, latitude, longitude, changeset_id, visible, '
                 '"timestamp", tile, version, redaction_id',
        "relation_members": "relation_id, member_type, member_id, member_role, "
                            "version, sequence_id",
        "relation_tags": "relation_id, version, k, v",
        "relations": 'relation_id, changeset_id, "timestamp", version, visible, '
                     'redaction_id',
        "users": "email, id, pass_crypt, creation_time, display_name, data_public, "
                 "description",
        "way_nodes": "way_id, node_id, version, sequence_id",
        "way_tags": "way_id, version, k, v",
        "ways": 'way_id, changeset_id, "timestamp", version, visible, redaction_id',
    }

    def __init__(self, escape_every_string: bool = False) -> None:
        #: end every string with a tab, so each one needs a COPY escape
        self.escape_every_string = escape_every_string
        self.rows: dict[str, list[str]] = {t: [] for t in self.ORDER}
        self.string_fields = 0
        self.escaped_fields = 0

    def add(self, table: str, *fields) -> None:
        out = []
        for f in fields:
            if f is None:
                out.append("\\N")
            elif isinstance(f, bool):
                out.append("t" if f else "f")
            elif isinstance(f, _Ts):
                out.append(f)
            elif isinstance(f, str):
                e = copy_escape(f + "\t" if self.escape_every_string else f)
                self.string_fields += 1
                self.escaped_fields += "\\" in e
                out.append(e)
            else:
                out.append(str(f))
        self.rows[table].append("\t".join(out))

    def write(self, path: str) -> int:
        with open(path, "w", encoding="utf-8", newline="\n") as fh:
            fh.write("--\n-- PostgreSQL database dump\n--\n\n")
            fh.write("SET statement_timeout = 0;\nSET client_encoding = 'UTF8';\n\n")
            for t in self.ORDER:
                fh.write(f"--\n-- Data for Name: {t}; Type: TABLE DATA\n--\n\n")
                fh.write(f"COPY public.{t} ({self.COLUMNS[t]}) FROM stdin;\n")
                for r in self.rows[t]:
                    fh.write(r)
                    fh.write("\n")
                fh.write("\\.\n\n\n")
            fh.write("--\n-- PostgreSQL database dump complete\n--\n\n")
        return sum(len(v) for v in self.rows.values())


def _text(rng: random.Random, lo: int, hi: int) -> str:
    return " ".join(rng.choice(WORDS) for _ in range(rng.randint(lo, hi)))


def _users(rng: random.Random, d: _Dump, n: int, public_share: float) -> set[int]:
    public = set()
    for uid in range(1, n + 1):
        pub = rng.random() < public_share
        if pub:
            public.add(uid)
        name = f"user{uid} {rng.choice(WORDS)}" if uid % 3 else f"ü{uid}"
        d.add("users", f"u{uid}@example.org", uid, "00x", _ts(uid), name, pub,
              _text(rng, 0, 3))
    return public


def _changesets(rng, d, n, n_users, public, comments_per, long_share, tag_max):
    """Changesets, their tags and comments.  Returns {id: user_id}, the
    comment tallies the discussions output must show and the last
    changeset/comment timestamp (seconds after BASE_TS)."""
    owner = {}
    tally = {"comments_visible": 0, "comments_rendered": 0, "with_discussion": 0,
             "comment_rows": 0}
    last_ts = 0
    for cs in range(1, n + 1):
        uid = rng.randint(1, n_users)
        owner[cs] = uid
        created = cs * 60
        # a few changesets close after the last data timestamp: still open
        closed = created + rng.randint(10, 3600) if rng.random() > 0.02 else 10**9
        bbox = [None] * 4 if rng.random() < 0.1 else sorted(
            rng.randint(-900_000_000, 900_000_000) for _ in range(4)
        )
        d.add("changesets", cs, uid, _ts(created), bbox[0], bbox[1], bbox[2],
              bbox[3], _ts(closed), rng.randint(0, 500))
        for k in rng.sample(KEYS, rng.randint(0, tag_max)):
            d.add("changeset_tags", cs, k, _text(rng, 1, 3))
        visible_here = 0
        for j in range(rng.randint(0, comments_per)):
            author = rng.randint(1, n_users)
            visible = rng.random() >= 0.1
            if rng.random() < long_share:
                unit = "long " + _text(rng, 4, 8) + " "
                body = unit * (65536 // len(unit.encode()) + 1)  # >= 64 KiB
            else:
                body = _text(rng, 1, 12)
            ts = created + 30 + j * 7
            last_ts = max(last_ts, ts)
            d.add("changeset_comments", len(d.rows["changeset_comments"]) + 1, cs,
                  author, body, _ts(ts), visible)
            tally["comment_rows"] += 1
            if visible:
                visible_here += 1
                tally["comments_visible"] += 1
                tally["comments_rendered"] += author in public
        tally["with_discussion"] += visible_here > 0
        last_ts = max(last_ts, created)
    return owner, tally, last_ts


def _elements(rng, d, table, n_ids, owner, n_cs, ts_base, extra):
    """History rows for one element type.  Returns per-version records
    (id, version, visible, redacted, changeset) for the ground truth."""
    recs = []
    ids = list(range(1, n_ids + 1))
    ids += [-i for i in range(1, max(1, n_ids // 200) + 1)]  # dropped
    for eid in ids:
        n_versions = 1
        while rng.random() < 1 / 3 and n_versions < 6:
            n_versions += 1
        deleted = rng.random() < 0.05
        for v in range(1, n_versions + 1):
            visible = not (deleted and v == n_versions)
            redacted = rng.random() < 0.01
            cs = rng.randint(1, n_cs)
            ts = _ts(ts_base + abs(eid) * 3 + v)
            redaction = rng.randint(1, 9) if redacted else None
            if table == "nodes":
                lat = rng.randint(-900_000_000, 900_000_000)
                lon = rng.randint(-1_800_000_000, 1_800_000_000)
                d.add("nodes", eid, lat, lon, cs, visible, ts, rng.randint(0, 2**31),
                      v, redaction)
            else:
                d.add(table, eid, cs, ts, v, visible, redaction)
            recs.append((eid, v, visible, redacted, cs))
            if not visible:
                continue
            tag_table = {"nodes": "node_tags", "ways": "way_tags",
                         "relations": "relation_tags"}[table]
            n_tags = rng.randint(1, 3) if table != "nodes" or rng.random() < 0.3 else 0
            for k in rng.sample(KEYS, n_tags):
                d.add(tag_table, eid, v, k, _text(rng, 1, 2))
            extra(eid, v)
    return recs


def _truth_for(recs, owner, public):
    """History / current counts and their attributed shares for one type."""
    valid = [r for r in recs if r[0] >= 0 and not r[3]]
    latest = {}
    for r in valid:
        if r[0] not in latest or r[1] > latest[r[0]][1]:
            latest[r[0]] = r
    current = [r for r in latest.values() if r[2]]

    def attributed(rows):
        return sum(owner.get(r[4]) in public for r in rows)

    return {
        "history": len(valid),
        "history_attributed": attributed(valid),
        "current": len(current),
        "current_attributed": attributed(current),
    }


def generate_planet(path: str, seed: int, n_nodes: int = 20000) -> dict:
    """The ``planet_full`` dump: history-rich elements, nodes dominating
    (ways = nodes/8, relations = nodes/80)."""
    rng = random.Random(seed)
    d = _Dump()
    n_users = max(10, n_nodes // 100)
    n_cs = max(10, n_nodes // 20)
    public = _users(rng, d, n_users, 0.7)
    owner, _, last_cs_ts = _changesets(rng, d, n_cs, n_users, public, 1, 0.0, 2)
    n_ways, n_rels = max(1, n_nodes // 8), max(1, n_nodes // 80)

    def way_nodes(eid, v):
        seq = list(range(1, rng.randint(2, 15) + 1))
        rng.shuffle(seq)  # sequence ids not in insertion order
        for s in seq:
            d.add("way_nodes", eid, rng.randint(1, n_nodes), v, s)

    def members(eid, v):
        seq = list(range(1, rng.randint(1, 8) + 1))
        rng.shuffle(seq)
        for s in seq:
            mt = rng.choice(MEMBER_TYPES)
            ref = rng.randint(1, {"Node": n_nodes, "Way": n_ways, "Relation": n_rels}[mt])
            d.add("relation_members", eid, mt, ref, rng.choice(ROLES), v, s)

    ts0 = last_cs_ts // 2
    recs = {
        "nodes": _elements(rng, d, "nodes", n_nodes, owner, n_cs, ts0, lambda e, v: None),
        "ways": _elements(rng, d, "ways", n_ways, owner, n_cs, ts0, way_nodes),
        "relations": _elements(rng, d, "relations", n_rels, owner, n_cs, ts0, members),
    }
    rows = d.write(path)
    truth = {t: _truth_for(r, owner, public) for t, r in recs.items()}
    truth["changesets"] = {
        "count": n_cs,
        "attributed": sum(u in public for u in owner.values()),
    }
    return _finish(truth, d, path, rows)


def generate_discussions(path: str, seed: int, n_changesets: int = 20000) -> dict:
    """The ``changeset_discussions`` dump: comment-heavy changesets, ~30%
    non-public authors, ~10% invisible comments, rare >= 64 KiB bodies,
    escapes in every string field; the element tables are empty."""
    rng = random.Random(seed)
    d = _Dump(escape_every_string=True)
    n_users = max(10, n_changesets // 20)
    public = _users(rng, d, n_users, 0.7)
    owner, tally, _ = _changesets(rng, d, n_changesets, n_users, public, 3, 0.002, 3)
    rows = d.write(path)
    truth = {
        "changesets": {
            "count": n_changesets,
            "attributed": sum(u in public for u in owner.values()),
            **tally,
        }
    }
    for t in ("nodes", "ways", "relations"):
        truth[t] = {"history": 0, "history_attributed": 0, "current": 0,
                    "current_attributed": 0}
    return _finish(truth, d, path, rows)


def _finish(truth: dict, d: _Dump, path: str, rows: int) -> dict:
    truth["input"] = {
        "rows": rows,
        "bytes": os.path.getsize(path),
        "escaped_share": d.escaped_fields / max(1, d.string_fields),
    }
    return truth
