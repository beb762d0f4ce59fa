#!/usr/bin/env python3
"""Seeded input generator for the graft benchmark.

Writes, from one integer seed, everything a workload feeds the program:

* a history PBF: DenseNodes with full history info (version, timestamp,
  changeset, uid, user, visible), open and closed ways (closed rings carry
  area tags), and multipolygon relations over closed ways; deleted
  versions carry ``visible=false``;
* a ``;``-separated country CSV of WKT polygons whose borders cut through
  1-degree grid cells (partial cells) and overlap (border rows match two
  countries);
* for the update workload, sequenced ``.osc`` diffs (``000/000/001.osc``
  layout) that continue the PBF's history with create / modify / delete of
  nodes, ways and relations, and the matching changeset ``.osm`` diffs with
  open -> closed changesets and hashtag comments;
* ``truth.json``: the ground truth the output checks compare against.

Nothing here imports the program or its tests: the PBF encoder is a small
protobuf writer of its own. run.py calls `gen_pbf` and `gen_update`.
"""
import json
import math
import os
import random
import struct
import zlib

# entities per OSMData block
BLOCK_SIZE = 2000

# ---- protobuf wire encoding ------------------------------------------------


def varint(n):
    out = bytearray()
    n &= (1 << 64) - 1
    while n > 0x7F:
        out.append((n & 0x7F) | 0x80)
        n >>= 7
    out.append(n)
    return bytes(out)


def zigzag(n):
    return (n << 1) ^ (n >> 63)


def field_varint(field, n):
    return varint(field << 3) + varint(n)


def field_bytes(field, payload):
    return varint((field << 3) | 2) + varint(len(payload)) + payload


def packed(field, values):
    return field_bytes(field, b"".join(varint(v) for v in values))


def packed_delta(field, values):
    prev = 0
    parts = []
    for v in values:
        parts.append(varint(zigzag(v - prev)))
        prev = v
    return field_bytes(field, b"".join(parts))


class Strings:
    """Per-block string table; index 0 is the mandatory empty string."""

    def __init__(self):
        self.index = {"": 0}
        self.items = [""]

    def sid(self, s):
        i = self.index.get(s)
        if i is None:
            i = len(self.items)
            self.index[s] = i
            self.items.append(s)
        return i

    def encode(self):
        return field_bytes(1, b"".join(field_bytes(1, s.encode()) for s in self.items))


def info_msg(v, st):
    # Info: version, timestamp (s), changeset, uid, user_sid, visible
    return (field_varint(1, v["version"]) + field_varint(2, v["ts"]) +
            field_varint(3, v["cs"]) + field_varint(4, v["uid"]) +
            field_varint(5, st.sid(user_name(v["uid"]))) +
            field_varint(6, 1 if v["visible"] else 0))


def dense_block(rows):
    st = Strings()
    kv = []
    for r in rows:
        for k, val in sorted(r["tags"].items()):
            kv.append(st.sid(k))
            kv.append(st.sid(val))
        kv.append(0)
    info = (packed(1, [r["version"] for r in rows]) +
            packed_delta(2, [r["ts"] for r in rows]) +
            packed_delta(3, [r["cs"] for r in rows]) +
            packed_delta(4, [r["uid"] for r in rows]) +
            packed_delta(5, [st.sid(user_name(r["uid"])) for r in rows]) +
            packed(6, [1 if r["visible"] else 0 for r in rows]))
    dense = (packed_delta(1, [r["id"] for r in rows]) + field_bytes(5, info) +
             packed_delta(8, [r["lat"] for r in rows]) +
             packed_delta(9, [r["lon"] for r in rows]) + packed(10, kv))
    return st.encode() + field_bytes(2, field_bytes(2, dense))


def way_block(rows):
    st = Strings()
    group = bytearray()
    for r in rows:
        keys = sorted(r["tags"])
        msg = (field_varint(1, r["id"]) +
               packed(2, [st.sid(k) for k in keys]) +
               packed(3, [st.sid(r["tags"][k]) for k in keys]) +
               field_bytes(4, info_msg(r, st)) + packed_delta(8, r["refs"]))
        group += field_bytes(3, msg)
    return st.encode() + field_bytes(2, bytes(group))


def relation_block(rows):
    st = Strings()
    group = bytearray()
    for r in rows:
        keys = sorted(r["tags"])
        msg = (field_varint(1, r["id"]) +
               packed(2, [st.sid(k) for k in keys]) +
               packed(3, [st.sid(r["tags"][k]) for k in keys]) +
               field_bytes(4, info_msg(r, st)) +
               packed(8, [st.sid(m[2]) for m in r["members"]]) +
               packed_delta(9, [m[1] for m in r["members"]]) +
               packed(10, [m[0] for m in r["members"]]))
        group += field_bytes(4, msg)
    return st.encode() + field_bytes(2, bytes(group))


def write_blob(out, blob_type, payload):
    blob = field_varint(2, len(payload)) + field_bytes(3, zlib.compress(payload, 6))
    header = field_bytes(1, blob_type.encode()) + field_varint(3, len(blob))
    out.write(struct.pack(">I", len(header)))
    out.write(header)
    out.write(blob)


def write_pbf(path, nodes, ways, rels):
    """History PBF: header blob, then node, way and relation blocks, each
    sorted by (id, version) as history files are."""
    with open(path, "wb") as out:
        header = b"".join(field_bytes(4, f.encode()) for f in
                          ("OsmSchema-V0.6", "DenseNodes", "HistoricalInformation"))
        write_blob(out, "OSMHeader", header + field_bytes(16, b"graftbench"))
        for rows, enc in ((nodes, dense_block), (ways, way_block), (rels, relation_block)):
            for i in range(0, len(rows), BLOCK_SIZE):
                write_blob(out, "OSMData", enc(rows[i:i + BLOCK_SIZE]))


# ---- the synthetic world -----------------------------------------------------

LON0, LON1 = 8.0, 12.0   # region: 4 x 3 one-degree cells
LAT0, LAT1 = 46.0, 49.0
T0 = 1_500_000_000       # first edit (s since epoch)
USERS = 300


def user_name(uid):
    return "mapper%d" % uid


def raw(deg):
    # granularity 100 nanodegrees
    return int(round(deg * 1e7))


def deg(r):
    # exactly the decoder's arithmetic: 1e-9 * (offset + granularity * raw)
    return 1e-9 * (100 * r)


# Country polygons (lon lat). A slanted border splits the region, a lake
# hole sits in BBB, CCC straddles the border, and the northern strip
# (lat > 48.6) belongs to no country. Every border crosses grid cells.
COUNTRIES = [
    ("AAA", [[(8.0, 46.0), (10.35, 46.0), (9.65, 48.6), (8.0, 48.6), (8.0, 46.0)]]),
    ("BBB", [[(10.35, 46.0), (12.0, 46.0), (12.0, 48.6), (9.65, 48.6), (10.35, 46.0)],
             [(11.15, 47.25), (11.65, 47.3), (11.6, 47.75), (11.2, 47.7), (11.15, 47.25)]]),
    ("CCC", [[(9.55, 46.9), (10.75, 47.15), (10.2, 47.95), (9.55, 46.9)]]),
]


def country_csv(path):
    with open(path, "w") as f:
        f.write("id;name;geometry\n")
        for cid, rings in COUNTRIES:
            wkt = "POLYGON (%s)" % ", ".join(
                "(%s)" % ", ".join("%r %r" % p for p in ring) for ring in rings)
            f.write("%s;%s;%s\n" % (cid, cid.lower(), wkt))


def in_rings(x, y, rings):
    inside = False
    for ring in rings:
        pts = ring[:-1]
        j = len(pts) - 1
        for i in range(len(pts)):
            xi, yi = pts[i]
            xj, yj = pts[j]
            if (yi > y) != (yj > y) and x < (xj - xi) * (y - yi) / (yj - yi) + xi:
                inside = not inside
            j = i
    return inside


def country_count(lon, lat):
    return sum(1 for _, rings in COUNTRIES if in_rings(lon, lat, rings))


POI_TAGS = [("amenity", "cafe"), ("amenity", "bench"), ("shop", "bakery"),
            ("tourism", "viewpoint"), ("natural", "tree"), ("highway", "bus_stop")]
AREA_TAGS = [("building", "yes"), ("building", "house"), ("landuse", "grass"),
             ("leisure", "park"), ("amenity", "parking")]
LINE_TAGS = [("highway", "residential"), ("highway", "footway"), ("waterway", "stream"),
             ("highway", "track")]
HASHTAGS = ["#mapathon", "#hotosm-project-1234", "#missingmaps", "#buildings",
            "#osmgeoweek", "#validation"]
EDITORS = ["JOSM/1.5", "iD 2.27", "StreetComplete 55", "Every Door"]


class World:
    """Entity histories plus the latest state each diff continues from."""

    def __init__(self, rng):
        self.rng = rng
        self.node_rows, self.way_rows, self.rel_rows = [], [], []
        self.nodes, self.ways, self.rels = {}, {}, {}  # id -> latest version dict
        self.node_parents = {}                           # way node id -> way ids
        self.way_rels = {}                               # way id -> relation ids
        self.ring_radius = {}                            # closed-ring node id -> radius
        self.cs = 1000
        self.next_node = self.next_way = self.next_rel = 1

    def new_cs(self):
        self.cs += 1 + self.rng.randrange(3)
        return self.cs

    def n_versions(self):
        return 1 + min(int(self.rng.expovariate(0.9)), 6)

    def add(self, kind, v):
        rows, latest = {"n": (self.node_rows, self.nodes), "w": (self.way_rows, self.ways),
                        "r": (self.rel_rows, self.rels)}[kind]
        rows.append(v)
        latest[v["id"]] = v

    # -- history ---------------------------------------------------------

    def node(self, nid, lat, lon, tags, ts, versions, t_end, poi):
        rng = self.rng
        for k in range(versions):
            if k:
                ts = min(t_end - 1, ts + 1 + rng.randrange(max(1, (t_end - ts) // versions)))
                if rng.random() < 0.5:
                    d = self.ring_radius.get(nid, 0.001) * 0.04
                    lat += raw(rng.uniform(-d, d))
                    lon += raw(rng.uniform(-d, d))
                if poi and rng.random() < 0.5:
                    tags = dict(tags, name="poi %d v%d" % (nid, k + 1))
            last = k == versions - 1
            visible = not (poi and last and k > 0 and rng.random() < 0.12)
            self.add("n", dict(id=nid, version=k + 1, ts=ts, cs=self.new_cs(),
                               uid=1 + rng.randrange(USERS), visible=visible,
                               lat=lat, lon=lon, tags=tags if visible else {}))
        return ts

    def way(self, wid, refs, tags, ts, versions, t_end, deletable):
        rng = self.rng
        for k in range(versions):
            if k:
                ts = min(t_end - 1, ts + 1 + rng.randrange(max(1, (t_end - ts) // versions)))
                tags = dict(tags, surface=rng.choice(["asphalt", "gravel", "paved"]))
            visible = not (deletable and k == versions - 1 and k > 0 and rng.random() < 0.08)
            self.add("w", dict(id=wid, version=k + 1, ts=ts, cs=self.new_cs(),
                               uid=1 + rng.randrange(USERS), visible=visible,
                               tags=tags if visible else {}, refs=refs if visible else []))

    def relation(self, rid, members, tags, ts, versions, t_end):
        rng = self.rng
        for k in range(versions):
            if k:
                ts = min(t_end - 1, ts + 1 + rng.randrange(max(1, (t_end - ts) // versions)))
                tags = dict(tags, name="area %d v%d" % (rid, k + 1))
            visible = not (k == versions - 1 and k > 0 and rng.random() < 0.08)
            self.add("r", dict(id=rid, version=k + 1, ts=ts, cs=self.new_cs(),
                               uid=1 + rng.randrange(USERS), visible=visible,
                               tags=tags if visible else {}, members=members if visible else []))

    def ring_nodes(self, n, closed):
        """New way nodes around a random centre: a convex ring (small vertex
        moves keep it simple) or a polyline."""
        rng = self.rng
        cx = rng.uniform(LON0 + 0.01, LON1 - 0.01)
        cy = rng.uniform(LAT0 + 0.01, LAT1 - 0.01)
        r = rng.uniform(0.0005, 0.002)
        a0, ang = rng.uniform(0, math.pi), rng.uniform(0, 2 * math.pi)
        pts = []
        for i in range(n):
            if closed:
                a = a0 + 2 * math.pi * i / n
                pts.append((cx + r * math.cos(a), cy + r * math.sin(a)))
            else:
                pts.append((cx + i * r * math.cos(ang), cy + i * r * math.sin(ang)))
        ids = []
        for x, y in pts:
            nid = self.next_node
            self.next_node += 1
            if closed:
                self.ring_radius[nid] = r
            ids.append((nid, raw(y), raw(x)))
        return ids

    def build(self, n_poi, n_closed, n_open, n_rel, t_end):
        """Full history up to t_end. Node first versions precede the ways
        that reference them, ways precede their relations."""
        rng = self.rng
        span = t_end - T0
        t_nodes, t_ways, t_rels = T0 + span // 4, T0 + span // 2, T0 + 3 * span // 4
        closed_ids = []
        for i in range(n_closed + n_open):
            closed = i < n_closed
            ids = self.ring_nodes(rng.randint(4, 8) if closed else rng.randint(2, 6), closed)
            first = 0
            for nid, lat, lon in ids:
                ts = T0 + rng.randrange(t_nodes - T0)
                first = max(first, ts)
                self.node(nid, lat, lon, {}, ts, self.n_versions(), t_end, poi=False)
            wid = self.next_way
            self.next_way += 1
            refs = [nid for nid, _, _ in ids] + ([ids[0][0]] if closed else [])
            for nid in set(refs):
                self.node_parents.setdefault(nid, set()).add(wid)
            tags = dict([rng.choice(AREA_TAGS if closed else LINE_TAGS)])
            ts = max(first + 1, t_nodes + rng.randrange(t_ways - t_nodes))
            self.way(wid, refs, tags, ts, self.n_versions(), t_end, deletable=not closed)
            if closed:
                closed_ids.append(wid)
        for _ in range(n_poi):
            nid = self.next_node
            self.next_node += 1
            k, v = rng.choice(POI_TAGS)
            self.node(nid, raw(rng.uniform(LAT0, LAT1)), raw(rng.uniform(LON0, LON1)),
                      {k: v}, T0 + rng.randrange(t_ways - T0), self.n_versions(), t_end, poi=True)
        for _ in range(n_rel):
            rid = self.next_rel
            self.next_rel += 1
            outers = rng.sample(closed_ids, rng.randint(1, 3))
            for w in outers:
                self.way_rels.setdefault(w, set()).add(rid)
            ts = t_rels + rng.randrange(t_end - t_rels - span // 8)
            self.relation(rid, [(1, w, "outer") for w in outers],
                          {"type": "multipolygon", "landuse": "meadow"}, ts, self.n_versions(), t_end)
        for wid, v in self.ways.items():
            if not v["visible"]:
                for ws in self.node_parents.values():
                    ws.discard(wid)
        self.node_rows.sort(key=lambda v: (v["id"], v["version"]))
        self.way_rows.sort(key=lambda v: (v["id"], v["version"]))
        self.rel_rows.sort(key=lambda v: (v["id"], v["version"]))

    # -- truth -----------------------------------------------------------

    def partition_counts(self):
        counts = {}
        for kind, rows in (("node", self.node_rows), ("way", self.way_rows),
                           ("relation", self.rel_rows)):
            last = {}
            for v in rows:
                last[v["id"]] = max(last.get(v["id"], 0), v["version"])
            for v in rows:
                status = ("deleted" if not v["visible"] else
                          "history" if v["version"] < last[v["id"]] else "latest")
                key = "%s/%s" % (status, kind)
                counts[key] = counts.get(key, 0) + 1
        return counts

    def store_truth(self):
        out = {}
        for kind, latest in (("node", self.nodes), ("way", self.ways), ("relation", self.rels)):
            out[kind] = [len(latest), sum(v["version"] for v in latest.values()),
                         sum(i * v["version"] for i, v in latest.items())]
        return out


# ---- update diffs ------------------------------------------------------------

def iso(ts):
    import time
    return time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime(ts))


def esc(s):
    return (s.replace("&", "&amp;").replace('"', "&quot;")
            .replace("<", "&lt;").replace(">", "&gt;"))


def element_xml(kind, v):
    attrs = 'id="%d" version="%d" timestamp="%s" changeset="%d" uid="%d" user="%s"' % (
        v["id"], v["version"], iso(v["ts"]), v["cs"], v["uid"], user_name(v["uid"]))
    if kind == "node":
        attrs += ' lat="%.7f" lon="%.7f"' % (deg(v["lat"]), deg(v["lon"]))
    body = "".join('<tag k="%s" v="%s"/>' % (esc(k), esc(x)) for k, x in sorted(v["tags"].items()))
    if kind == "way":
        body += "".join('<nd ref="%d"/>' % r for r in v["refs"])
    if kind == "relation":
        body += "".join('<member type="%s" ref="%d" role="%s"/>' % (
            ("node", "way", "relation")[t], r, role) for t, r, role in v["members"])
    return "  <%s %s>%s</%s>\n" % (kind, attrs, body, kind)


def diff_sizes(rng, n, changes):
    """Seeded diff sizes: about `changes` changes each, within +-5%. A run
    applies as many diffs as its window allows (one, on the seed commit),
    so the band is kept narrow to keep a run's step latency comparable
    across seeds; what varies with the seed is which elements change and
    how."""
    return [int(changes * rng.uniform(0.95, 1.05)) for _ in range(n)]


def make_diff(world, rng, seq, size, t_start, carry_open):
    """One minutely diff of `size` element changes plus its changeset diff.
    Returns (osc text, changeset text, changes, ids of this diff's
    changesets, ids closed by this diff, changesets still open)."""
    blocks = {"create": [], "modify": [], "delete": []}
    touched = set()
    clock = [t_start]
    changes = 0
    live_poi = [i for i, v in world.nodes.items() if v["visible"] and i not in world.node_parents]
    live_waynodes = [i for i, ws in world.node_parents.items()
                     if ws and world.nodes[i]["visible"]]
    live_ways = [i for i, v in world.ways.items() if v["visible"]]
    live_closed = [i for i in live_ways if world.ways[i]["refs"][0] == world.ways[i]["refs"][-1]]
    live_rels = [i for i, v in world.rels.items() if v["visible"]]
    changesets = []  # (id, uid, n_changes, lons, lats)

    def open_cs():
        changesets.append([world.new_cs(), 1 + rng.randrange(USERS), 0, [], []])

    open_cs()

    def emit(action, kind, v):
        nonlocal changes
        cs = changesets[-1]
        if cs[2] >= rng.randint(5, 60):
            open_cs()
            cs = changesets[-1]
        clock[0] += rng.randrange(2)
        v = dict(v, version=v["version"] + (0 if action == "create" else 1),
                 ts=clock[0], cs=cs[0], uid=cs[1])
        cs[2] += 1
        if kind == "node":
            cs[3].append(deg(v["lon"]))
            cs[4].append(deg(v["lat"]))
        blocks[action].append(element_xml(kind, v))
        world.add(kind[0], v)
        touched.add((kind, v["id"]))
        changes += 1
        return v

    def pick(pool, kind):
        for _ in range(8):
            if not pool:
                return None
            i = pool[rng.randrange(len(pool))]
            if (kind, i) not in touched:
                return i
        return None

    while changes < size:
        r = rng.random()
        if r < 0.30:  # move a way node: way and relation minors propagate
            nid = pick(live_waynodes, "node")
            if nid is None:
                continue
            v = world.nodes[nid]
            d = world.ring_radius.get(nid, 0.001) * 0.04
            emit("modify", "node", dict(v, lat=v["lat"] + raw(rng.uniform(-d, d)),
                                        lon=v["lon"] + raw(rng.uniform(-d, d))))
        elif r < 0.45:  # retag / nudge a POI
            nid = pick(live_poi, "node")
            if nid is None:
                continue
            v = world.nodes[nid]
            emit("modify", "node", dict(v, tags=dict(v["tags"], name="poi %d s%d" % (nid, seq)),
                                        lat=v["lat"] + raw(rng.uniform(-1e-4, 1e-4))))
        elif r < 0.57:  # new POI
            nid = world.next_node
            world.next_node += 1
            k, x = rng.choice(POI_TAGS)
            emit("create", "node", dict(id=nid, version=1, visible=True, tags={k: x},
                                        lat=raw(rng.uniform(LAT0, LAT1)),
                                        lon=raw(rng.uniform(LON0, LON1))))
        elif r < 0.65:  # new way with new nodes
            closed = rng.random() < 0.6
            ids = world.ring_nodes(rng.randint(4, 6), closed)
            for nid, lat, lon in ids:
                emit("create", "node", dict(id=nid, version=1, visible=True, tags={},
                                            lat=lat, lon=lon))
            wid = world.next_way
            world.next_way += 1
            refs = [nid for nid, _, _ in ids] + ([ids[0][0]] if closed else [])
            for nid in set(refs):
                world.node_parents.setdefault(nid, set()).add(wid)
            emit("create", "way", dict(id=wid, version=1, visible=True, refs=refs,
                                       tags=dict([rng.choice(AREA_TAGS if closed else LINE_TAGS)])))
        elif r < 0.77:  # retag a way
            wid = pick(live_ways, "way")
            if wid is None:
                continue
            v = world.ways[wid]
            emit("modify", "way", dict(v, tags=dict(v["tags"], note="s%d" % seq)))
        elif r < 0.82:  # retag a relation
            rid = pick(live_rels, "relation")
            if rid is None:
                continue
            v = world.rels[rid]
            emit("modify", "relation", dict(v, tags=dict(v["tags"], name="area %d s%d" % (rid, seq))))
        elif r < 0.85:  # new multipolygon over live closed ways
            outers = [w for w in rng.sample(live_closed, min(2, len(live_closed)))
                      if ("way", w) not in touched and world.ways[w]["visible"]]
            if not outers:
                continue
            rid = world.next_rel
            world.next_rel += 1
            for w in outers:
                world.way_rels.setdefault(w, set()).add(rid)
            emit("create", "relation", dict(id=rid, version=1, visible=True,
                                            members=[(1, w, "outer") for w in outers],
                                            tags={"type": "multipolygon", "landuse": "meadow"}))
        elif r < 0.93:  # delete a POI
            nid = pick(live_poi, "node")
            if nid is None:
                continue
            emit("delete", "node", dict(world.nodes[nid], visible=False, tags={}))
            live_poi.remove(nid)
        elif r < 0.97:  # delete a way no live relation uses
            wid = pick(live_ways, "way")
            if wid is None or any(world.rels[r_]["visible"] for r_ in world.way_rels.get(wid, ())):
                continue
            v = world.ways[wid]
            for nid in set(v["refs"]):
                world.node_parents.get(nid, set()).discard(wid)
            emit("delete", "way", dict(v, visible=False, tags={}, refs=[]))
            live_ways.remove(wid)
            if wid in live_closed:
                live_closed.remove(wid)
        else:  # delete a relation
            rid = pick(live_rels, "relation")
            if rid is None:
                continue
            emit("delete", "relation", dict(world.rels[rid], visible=False, tags={}, members=[]))
            live_rels.remove(rid)

    osc = ['<?xml version="1.0" encoding="UTF-8"?>\n<osmChange version="0.6" generator="graftbench">\n']
    for action in ("create", "modify", "delete"):
        if blocks[action]:
            osc.append(" <%s>\n%s </%s>\n" % (action, "".join(blocks[action]), action))
    osc.append("</osmChange>\n")

    # changeset diff: this step's changesets (some closed at once, the rest
    # open until the next diff closes them) plus the closures carried over
    cs_xml = ['<?xml version="1.0" encoding="UTF-8"?>\n<osm version="0.6" generator="graftbench">\n']
    closed_ids, still_open = [], []

    def cs_elem(cid, uid, n, lons, lats, created, closed_at):
        bbox = ""
        if lons:
            bbox = ' min_lon="%.7f" min_lat="%.7f" max_lon="%.7f" max_lat="%.7f"' % (
                min(lons), min(lats), max(lons), max(lats))
        tags = ('<tag k="comment" v="%s"/><tag k="created_by" v="%s"/>' % (
            esc("edits %d %s" % (cid, " ".join(rng.sample(HASHTAGS, 2)))), rng.choice(EDITORS)))
        return ('  <changeset id="%d" created_at="%s" closed_at="%s" open="%s" uid="%d" user="%s" '
                'num_changes="%d" comments_count="%d"%s>%s</changeset>\n' % (
                    cid, iso(created), iso(closed_at) if closed_at else "",
                    "false" if closed_at else "true", uid, user_name(uid), n,
                    rng.randrange(4), bbox, tags))

    for c in carry_open:
        cs_xml.append(cs_elem(*c, t_start + 5))
        closed_ids.append(c[0])
    for cid, uid, n, lons, lats in changesets:
        if rng.random() < 0.3:
            cs_xml.append(cs_elem(cid, uid, n, lons, lats, t_start, clock[0] + 1))
            closed_ids.append(cid)
        else:
            cs_xml.append(cs_elem(cid, uid, n, lons, lats, t_start, None))
            still_open.append((cid, uid, n, lons, lats, t_start))
    cs_xml.append("</osm>\n")
    return "".join(osc), "".join(cs_xml), changes, [c[0] for c in changesets], closed_ids, still_open


def seq_path(root, seq, ext):
    s = "%09d" % seq
    d = os.path.join(root, s[0:3], s[3:6])
    os.makedirs(d, exist_ok=True)
    return os.path.join(d, s[6:9] + ext)


# ---- entry points ------------------------------------------------------------

def gen_pbf(seed, out, versions):
    """ETL input: a history PBF of about `versions` entity versions."""
    rng = random.Random(seed)
    world = World(rng)
    # ~2.1 versions per entity; about 5.4 way nodes per way
    units = versions / 2.1
    n_closed = int(units * 0.055)
    n_open = int(units * 0.055)
    n_poi = int(units * 0.28)
    n_rel = int(units * 0.02)
    world.build(n_poi, n_closed, n_open, n_rel, T0 + 200_000_000)
    write_pbf(os.path.join(out, "history.osm.pbf"), world.node_rows, world.way_rows,
              world.rel_rows)
    country_csv(os.path.join(out, "countries.csv"))
    hits = rows = 0
    for v in world.node_rows:
        c = country_count(deg(v["lon"]), deg(v["lat"]))
        hits += c
        rows += c > 0
    n = len(world.node_rows) + len(world.way_rows) + len(world.rel_rows)
    truth = dict(versions=n, partitions=world.partition_counts(),
                 country_rows=rows, country_hits=hits,
                 pbf_bytes=os.path.getsize(os.path.join(out, "history.osm.pbf")))
    with open(os.path.join(out, "truth.json"), "w") as f:
        json.dump(truth, f, indent=1, sort_keys=True)
    return truth


def gen_update(seed, out, versions, n_diffs, diff_changes):
    """Update input: a seeding PBF, then `n_diffs` .osc diffs of about
    `diff_changes` changes each, continuing its history, and the matching
    changeset diffs; truth per applied prefix."""
    rng = random.Random(seed)
    world = World(rng)
    units = versions / 2.1
    t_end = T0 + 200_000_000
    world.build(int(units * 0.28), int(units * 0.055), int(units * 0.055),
                int(units * 0.02), t_end)
    write_pbf(os.path.join(out, "history.osm.pbf"), world.node_rows, world.way_rows,
              world.rel_rows)
    steps = []
    carry = []
    closed = set()
    all_cs = set()
    for seq, size in enumerate(diff_sizes(rng, n_diffs, diff_changes), start=1):
        t_start = t_end + 60 * seq
        osc, csx, changes, cs_ids, closed_ids, carry = make_diff(world, rng, seq, size,
                                                                 t_start, carry)
        p = seq_path(os.path.join(out, "replication"), seq, ".osc")
        with open(p, "w") as f:
            f.write(osc)
        with open(seq_path(os.path.join(out, "changesets"), seq, ".osm"), "w") as f:
            f.write(csx)
        all_cs.update(cs_ids)
        closed.update(closed_ids)
        steps.append(dict(seq=seq, changes=changes, osc_bytes=len(osc.encode()),
                          store=world.store_truth(), changesets=len(all_cs),
                          closed_changesets=len(closed)))
    n = len(world.node_rows) + len(world.way_rows) + len(world.rel_rows)
    truth = dict(seed_versions=n, steps=steps)
    with open(os.path.join(out, "truth.json"), "w") as f:
        json.dump(truth, f, indent=1, sort_keys=True)
    return truth

