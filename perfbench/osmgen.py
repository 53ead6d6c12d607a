"""Seeded synthetic OSM extract in the osmosis layout the package parses.

The layout grows the small fixture of the OSM ingestion tests: one
element per line at indent level 2, self-closed and multi-line nodes,
ways with ordered ``nd`` refs, relations with members.  Street names
mix canonical suffixes, abbreviations the cleaner maps (``St.``,
``Ave`` ...) and unexpected suffixes the audit flags but nothing maps
(``Broadway``, ``Plaza`` ...).  While writing, the generator counts
the rows every shaped relation must hold and the audit variants the
street audit must report, so the ETL's output can be checked exactly.
"""

from __future__ import annotations

import itertools
import random

# (suffix, cleaned suffix or None when the cleaner leaves it alone)
_SUFFIXES = (
    ("Street", None), ("Road", None), ("Avenue", None), ("Boulevard", None),
    ("Lane", None), ("Drive", None),
    ("St", "Street"), ("St.", "Street"), ("Ave", "Avenue"), ("Ave.", "Avenue"),
    ("Rd", "Road"), ("Rd.", "Road"), ("Blvd", "Boulevard"), ("Ln", "Lane"),
    ("Dr", "Drive"),
    ("Broadway", None), ("Plaza", None), ("Court", None), ("Way", None),
    ("Terrace", None),
)
MAPPED_ABBREVIATIONS = frozenset(s for s, clean in _SUFFIXES if clean)
_EXPECTED = frozenset(("Street", "Road", "Avenue", "Boulevard", "Lane", "Drive"))
_STEMS = (
    "Main", "Oak", "Pine", "Elm", "Birch", "Maple", "Cedar", "Walnut",
    "Lake", "Hill", "Park", "Mill", "Church", "North Market", "West Union",
    "Old Forge", "Spring", "Ridge", "Chestnut", "High",
)
_AMENITIES = ("restaurant", "cafe", "school", "bank", "pharmacy", "fuel", "parking")
_CUISINES = ("pizza", "burger", "thai", "italian", "mexican", "coffee_shop")
_HIGHWAYS = ("residential", "primary", "secondary", "service", "footway")
_ROLES = ("outer", "inner", "", "stop", "platform")


def _street(rng: random.Random) -> str:
    stem = rng.choice(_STEMS)
    suffix = rng.choice(_SUFFIXES)[0]
    return f"{stem} {suffix}"


def _audit_type(name: str) -> str:
    """The street audit's last-token rule: strip one trailing dot,
    take the last space-separated token."""
    return (name[:-1] if name.endswith(".") else name).rsplit(" ", 1)[-1]


def write_extract(path: str, seed: int, n_nodes: int) -> dict:
    """Write the extract to ``path``; return the expected ETL outputs:
    ``rows`` per written table, ``variants`` (the audit's sorted
    distinct (street_type, name) pairs) and ``bytes``."""
    rng = random.Random(seed)
    n_users = max(8, n_nodes // 40)
    users = [(uid, f"mapper_{uid}") for uid in range(1, n_users + 1)]
    # a few prolific mappers, a long tail of occasional ones
    cum_weights = list(itertools.accumulate(1.0 / (i + 1) for i in range(n_users)))
    node_ids = [1_000_000 + i * 3 + rng.randrange(3) for i in range(n_nodes)]
    rows = dict.fromkeys(("nodes", "nodes_tags", "ways", "ways_tags", "ways_nodes"), 0)
    variants: set[tuple[str, str]] = set()
    size = 0

    with open(path, "w", encoding="utf-8") as out:
        def emit(line: str) -> None:
            nonlocal size
            out.write(line)
            size += len(line)

        def meta(eid: int, version_max: int) -> str:
            uid, user = rng.choices(users, cum_weights=cum_weights)[0]
            day = rng.randrange(1, 29)
            return (
                f'id="{eid}" user="{user}" uid="{uid}" '
                f'version="{rng.randrange(1, version_max)}" '
                f'changeset="{rng.randrange(10_000, 90_000_000)}" '
                f'timestamp="2024-02-{day:02d}T{rng.randrange(24):02d}:'
                f'{rng.randrange(60):02d}:{rng.randrange(60):02d}Z"'
            )

        emit('<?xml version="1.0" encoding="UTF-8"?>\n<osm version="0.6" generator="perfbench">\n')
        emit('  <bounds minlat="41.0" minlon="-81.6" maxlat="41.3" maxlon="-81.2"/>\n')
        for nid in node_ids:
            attrs = (
                f'{meta(nid, 9)} lat="{41.0 + rng.random() * 0.3:.7f}" '
                f'lon="{-81.6 + rng.random() * 0.4:.7f}"'
            )
            rows["nodes"] += 1
            if rng.random() < 0.6:
                emit(f"  <node {attrs}/>\n")
                continue
            tags = []
            if rng.random() < 0.8:
                name = _street(rng)
                tags.append(("addr:street", name))
                if _audit_type(name) not in _EXPECTED:
                    variants.add((_audit_type(name), name))
                tags.append(("addr:housenumber", str(rng.randrange(1, 9999))))
                if rng.random() < 0.5:
                    tags.append(("addr:postcode", f"44{rng.randrange(100, 999)}"))
            if rng.random() < 0.4:
                amenity = rng.choice(_AMENITIES)
                tags.append(("amenity", amenity))
                if amenity == "restaurant":
                    tags.append(("cuisine", rng.choice(_CUISINES)))
            if rng.random() < 0.2:
                tags.append(("name:en:short", f"Place {rng.randrange(1000)}"))
            if not tags:
                tags.append(("created_by", "JOSM"))
            rows["nodes_tags"] += len(tags)
            emit(f"  <node {attrs}>\n")
            for k, v in tags:
                emit(f'    <tag k="{k}" v="{v}"/>\n')
            emit("  </node>\n")

        n_ways = max(1, n_nodes // 8)
        way_ids = [50_000_000 + i for i in range(n_ways)]
        for wid in way_ids:
            refs = rng.sample(node_ids, rng.randrange(2, 9))
            tags = [("highway", rng.choice(_HIGHWAYS))]
            if rng.random() < 0.7:
                tags.append(("name", _street(rng)))
            if rng.random() < 0.5:
                tags.append(("addr:street", _street(rng)))
            rows["ways"] += 1
            rows["ways_nodes"] += len(refs)
            rows["ways_tags"] += len(tags)
            emit(f"  <way {meta(wid, 5)}>\n")
            for ref in refs:
                emit(f'    <nd ref="{ref}"/>\n')
            for k, v in tags:
                emit(f'    <tag k="{k}" v="{v}"/>\n')
            emit("  </way>\n")

        for rid in range(90_000_000, 90_000_000 + max(1, n_ways // 20)):
            emit(f"  <relation {meta(rid, 4)}>\n")
            for _ in range(rng.randrange(1, 5)):
                if rng.random() < 0.7:
                    kind, ref = "way", rng.choice(way_ids)
                else:
                    kind, ref = "node", rng.choice(node_ids)
                emit(f'    <member type="{kind}" ref="{ref}" role="{rng.choice(_ROLES)}"/>\n')
            emit('    <tag k="type" v="multipolygon"/>\n')
            emit("  </relation>\n")
        emit("</osm>\n")

    return {"rows": rows, "variants": sorted(variants), "bytes": size}
