"""Seeded OSM XML + PSI street-list generator with a ground-truth oracle.

The extract is Hong Kong-like: ``scale=1.0`` gives the element counts of
the Sha Tin sample (13,676 nodes, 1,958 ways, 242 relations) and the PSI
list always has 4,510 rows. Every dirty-data class of FIXTURES.md §2 is
present:

- phone values in every shape the cleaner handles (852 prefix, bare
  8 digits, PRC cells, Shenzhen 0755 land lines, full-width ``＋``,
  separators, odd spacing, ``;``/``,`` lists, unmatched text), under all
  seven phone keys including the false-positive-prone ``operator`` and
  ``source``, plus ``contact:phone``-style namespaced keys;
- PSI rows with a null Chinese name, exact duplicates, English or
  Chinese names shared with a different partner (XOR-ambiguous), the
  14 capwords/typo fixes and the four Shenzhen homonyms;
- tag keys with problem characters and keys with several colons;
- ways inside and outside the ``highway`` street gate with every
  combination of ``name`` / ``name:en`` / ``name:zh`` variants, repeated
  variants (last one wins), typos, ambiguous pairs and names of PSI rows
  the cleaning drops;
- relations (with phone tags), which the six-table ETL must ignore.

The oracle is computed from the generated elements by a direct Python
reading of the reference cleaning rules, independent of the engine:
the row count of each of the six tables, the ``update_history`` rows,
the two audits' row counts and the number of fixed phones and names.
"""

from __future__ import annotations

import json
import os
import random
import re
from xml.sax.saxutils import escape, quoteattr

# --- The reference's cleaning rules (parse_clean_and_csv.py), restated ---
PROBLEM_CHARS = re.compile(r"[=+/&<>;'\"?%#$@,. \t\r\n]")
STREET_VALUES = {
    "motorway", "trunk", "primary", "secondary", "tertiary", "residential",
    "living_street", "pedestrian", "track", "road", "steps", "path",
}
PHONE_KEYS = {"phone", "fax", "whatsapp", "mobile", "telephone", "operator", "source"}
STRIP = re.compile(r"[- +)(＋]+")
HK = re.compile(r"(852)?([0-9]{8})")
PRC = re.compile(r"(86)?(1[3-9][0-9]{9})")
SZ = re.compile(r"(86)?0?(755)([0-9]{6,8})")
HK_TOLERANT = re.compile(r"^[＋+(]{0,2}[ ]?(852)?\)?[- ]?([0-9]{4})[- ]?([0-9]{4})$")
SZ_TOLERANT = re.compile(
    r"^[＋+(]?(86)?\)?[- ]?\(?0?(755)\)?[- ]?([0-9]{3,4})[- ]?([0-9]{3,4})$")
PRC_TOLERANT = re.compile(
    r"^[＋+(]?(86)?\)?[- ]?(1[3-9][0-9])[- ]?([0-9]{4})[- ]?([0-9]{4})$")
ENG_NAME = re.compile(r"[ ]*([A-Za-z0-9'\-,. ]{4,})")
CHI_NAME = re.compile(r"([^A-Za-z'\-,. ]+[0-9]?[^A-Za-z'\-,. ]+)")
NAME_FIXES = {
    "Aberdeent Tuntntel": "Aberdeen Tunnel",
    "Wan Chai Interchantge": "Wan Chai Interchange",
    "半山徑　": "半山徑",
    "D'aguilar Street": "D'Aguilar Street",
    "O'brien Road": "O'Brien Road",
    "Cape D'aguilar Road": "Cape D'Aguilar Road",
    "Mcgregor Street": "McGregor Street",
    "Boulevard De Cascade": "Boulevard de Cascade",
    "Boulevard De Fontaine": "Boulevard de Fontaine",
    "Boulevard De Foret": "Boulevard de Foret",
    "Boulevard De Mer": "Boulevard de Mer",
    "Boulevard Du Lac": "Boulevard du Lac",
    "Boulevard Du Palais": "Boulevard du Palais",
    "Haven Of Hope Road": "Haven of Hope Road",
}
SZ_NAMES = {"文昌街", "福民路", "福祥街", "丹桂路"}

# --- Vocabulary ---
SYLLABLES = (
    "KWAI CHUNG SHA TIN TAI PO WO CHE LOK FU MA ON SHAN YUEN LONG TSUEN "
    "HING KAM SHEK MUN KONG HANG LEI CHEUNG SAI KUNG TUNG HOI LAM YAU TSIM "
    "NGAU CHI KIU PAK WONG SHUN TSING"
).split()
SUFFIXES = "ROAD STREET LANE AVENUE PATH TERRACE DRIVE CRESCENT".split()
CJK = "沙田大圍新城東西南北中山海灣橋河花園安和平富貴瑞龍鳳泰康樂明德仁義香港九荃元朗屯葵涌"
CJK_SUFFIX = "路街道里"
PSI_ROWS = 4510
N_NULL_CHI, N_DUP, N_ENG_SHARED, N_CHI_SHARED = 17, 13, 25, 26

AMENITIES = ["restaurant", "place_of_worship", "bank", "school", "cafe",
             "toilets", "parking", "post_box", "fast_food", "clinic"]
CUISINES = ["chinese", "cantonese", "japanese", "thai", "pizza", "burger"]
RELIGIONS = ["buddhist", "christian", "taoist", "muslim"]
OTHER_HIGHWAYS = ["service", "footway", "cycleway", "bus_stop", "unclassified"]
PLAIN_TAGS = [("building", "yes"), ("landuse", "residential"), ("natural", "tree"),
              ("surface", "asphalt"), ("oneway", "yes"), ("lanes", "2"),
              ("maxspeed", "50"), ("waterway", "stream"), ("leisure", "park")]
PROBLEM_KEYS = ["addr street", "fixme?", "name.en", "note=old", "ref;alt", "a&b"]
COLON_KEYS = [("name:zh:yue", "沙田"), ("addr:housenumber", "12"),
              ("seamark:light:colour", "red"), ("is_in:country", "Hong Kong"),
              ("name:zh-Hant", "沙田")]


def capwords(s: str) -> str:
    return " ".join(w.capitalize() for w in s.split())


def fix_phone(value: str) -> str:
    out = []
    for seg in re.split(r"[,;]", value):
        s = STRIP.sub("", seg)
        if m := HK.fullmatch(s):
            out.append("+852 " + m.group(2))
        elif m := PRC.fullmatch(s):
            out.append("+86 " + m.group(2))
        elif m := SZ.fullmatch(s):
            out.append("+86 755 " + m.group(3))
    return ";".join(out) if out else value


def phone_like(key: str, value: str) -> bool:
    return key in ("phone", "fax") or any(
        r.search(seg) for seg in value.split(";")
        for r in (HK_TOLERANT, SZ_TOLERANT, PRC_TOLERANT))


def shape_key(k: str) -> tuple[str, str]:
    """(type, key): split at the first colon, 'regular' without one."""
    if ":" in k:
        t, rest = k.split(":", 1)
        return t, rest
    return "regular", k


def official_list(psi: list[tuple[str, str | None]], corrected: bool) -> list[tuple[str, str]]:
    rows = {(capwords(e), c) for e, c in psi if c is not None}
    n_eng, n_chi = {}, {}
    for e, c in rows:
        n_eng[e] = n_eng.get(e, 0) + 1
        n_chi[c] = n_chi.get(c, 0) + 1
    rows = [(e, c) for e, c in rows if n_eng[e] == 1 and n_chi[c] == 1]
    if corrected:
        rows = [(NAME_FIXES.get(e, e), NAME_FIXES.get(c, c)) for e, c in rows]
        rows = [(e, c) for e, c in rows if c not in SZ_NAMES]
    return sorted(rows)


def lookup_of(official: list[tuple[str, str]]) -> dict[str, int]:
    look: dict[str, int] = {}
    for i, (e, c) in enumerate(official):
        for name in (e, c):
            if name in look and look[name] != i:
                raise ValueError(f"generated PSI list maps {name!r} twice")
            look[name] = i
    return look


def variants(tags: list[tuple[str, str]]) -> list[str] | None:
    """Street-name variants of a way, or None when it is no street."""
    if not any(k == "highway" and v in STREET_VALUES for k, v in tags):
        return None
    found = {}
    for k, v in tags:  # later tags overwrite earlier ones
        if k == "name:en":
            found["en"] = v
        elif k == "name:zh":
            found["zh"] = v
        elif k == "name":
            if m := ENG_NAME.search(v):
                found["reg_eng"] = m.group(1)
            if m := CHI_NAME.search(v):
                found["reg_chi"] = m.group(1)
    return list(found.values())


def compute_oracle(nodes, ways, psi) -> dict:
    """Expected ETL outputs for generated elements (see module doc)."""
    look = lookup_of(official := official_list(psi, corrected=True))
    look_raw = lookup_of(official_list(psi, corrected=False))
    history = []
    counts = {"nodes": len(nodes), "ways": len(ways), "nodes_tags": 0,
              "ways_tags": 0, "ways_nodes": sum(len(w["nds"]) for w in ways)}
    audit_phones = 0
    for kind, elems in (("node", nodes), ("way", ways)):
        for el in elems:
            shaped = [(*shape_key(k), v) for k, v in el["tags"] if not PROBLEM_CHARS.search(k)]
            audit_phones += sum(phone_like(key, v) for _, key, v in shaped)
            phone_fixed = any(key in PHONE_KEYS and fix_phone(v) != v for _, key, v in shaped)
            if phone_fixed:
                history.append([el["id"], kind, "phone"])
            counts[f"{kind}s_tags"] += len(shaped)
    audit_streets = 0
    for w in ways:
        names = variants(w["tags"])
        if names is None:
            continue
        raw_hits = {look_raw[n] for n in names if n in look_raw}
        if len(raw_hits) == 1 and (len(names) < 4 or any(n not in look_raw for n in names)):
            audit_streets += 1
        hits = {look[n] for n in names if n in look}
        if len(hits) != 1:
            continue
        eng, chi = official[hits.pop()]
        want = {("name", "en"): eng, ("name", "zh"): chi, ("regular", "name"): f"{chi} {eng}"}
        shaped = [shape_key(k) + (v,) for k, v in w["tags"] if not PROBLEM_CHARS.search(k)]
        changed = any(want.get((t, key), v) != v for t, key, v in shaped)
        missing = set(want) - {(t, key) for t, key, _ in shaped}
        counts["ways_tags"] += len(missing)
        if changed or missing:
            history.append([w["id"], "way", "name"])
    history.sort(key=lambda r: (r[1], r[2], r[0]))
    counts["update_history"] = len(history)
    return {
        "row_counts": counts,
        "update_history": history,
        "audit_street_names": audit_streets,
        "audit_phone_numbers": audit_phones,
        "phones_fixed": sum(r[2] == "phone" for r in history),
        "names_fixed": sum(r[2] == "name" for r in history),
    }


class _Gen:
    def __init__(self, seed: int):
        self.r = random.Random(seed)

    def digits(self, n: int) -> str:
        return "".join(self.r.choice("0123456789") for _ in range(n))

    def hk(self) -> str:
        return self.r.choice("235689") + self.digits(7)

    def phone(self) -> str:
        """One phone-ish value in a random dirty shape."""
        r, hk = self.r, self.hk
        prc = "1" + r.choice("3456789") + self.digits(9)
        sz = self.digits(8)
        a, b = hk(), hk()
        shapes = [
            f"+852 {a[:4]} {a[4:]}", f"+852{a}", a, f"+852 {a}", f"852-{a[:4]}-{a[4:]}",
            f"＋852 {a[:4]}-{a[4:]}", f"(852) {a[:4]} {a[4:]}", f"+86 {prc[:3]} {prc[3:7]} {prc[7:]}",
            prc, f"+86 755 {sz[:4]} {sz[4:]}", f"0755-{sz[:4]}-{sz[4:]}", f"{a[:4]} {a[4:]}; {b[:4]} {b[4:]}",
            f"{a[:4]} {a[4:]}, +852 {b}", f"+85 2{a[:1]} {a[1:3]} {a[3:]}", f"{a[:4]} {a[4:]} ext {self.digits(2)}",
            f"{a}; call office", "ext. 123",
        ]
        return r.choice(shapes)

    def psi(self) -> tuple[list[tuple[str, str | None]], list[tuple[str, str]]]:
        """PSI rows (upper-case English, Chinese-or-None) and the base
        (eng, chi) pairs that survive cleaning unchanged."""
        r = self.r
        engs: set[str] = set()
        chis: set[str] = set()

        def new_eng() -> str:
            while True:
                e = f"{r.choice(SYLLABLES)} {r.choice(SYLLABLES)} {r.choice(SUFFIXES)}"
                if e not in engs:
                    engs.add(e)
                    return e

        def new_chi() -> str:
            while True:
                c = "".join(r.choice(CJK) for _ in range(r.randint(2, 3))) + r.choice(CJK_SUFFIX)
                if c not in chis and c not in SZ_NAMES:
                    chis.add(c)
                    return c

        n_base = PSI_ROWS - N_NULL_CHI - N_DUP - N_ENG_SHARED - N_CHI_SHARED - len(NAME_FIXES) - len(SZ_NAMES)
        base = [(new_eng(), new_chi()) for _ in range(n_base)]
        picks = r.sample(range(n_base), N_DUP + N_ENG_SHARED + N_CHI_SHARED)
        dup_i = picks[:N_DUP]
        eng_i = picks[N_DUP:N_DUP + N_ENG_SHARED]
        chi_i = picks[N_DUP + N_ENG_SHARED:]
        rows: list[tuple[str, str | None]] = list(base)
        rows += [(new_eng(), None) for _ in range(N_NULL_CHI)]
        rows += [base[i] for i in dup_i]
        rows += [(base[i][0], new_chi()) for i in eng_i]
        rows += [(new_eng(), base[i][1]) for i in chi_i]
        for bad in NAME_FIXES:
            if bad.strip() != bad:  # the Chinese fix entry
                rows.append((new_eng(), bad))
            else:
                rows.append((bad.upper(), new_chi()))
        rows += [(new_eng(), c) for c in sorted(SZ_NAMES)]
        r.shuffle(rows)
        dropped = set(eng_i) | set(chi_i)
        good = [(capwords(e), c) for i, (e, c) in enumerate(base) if i not in dropped]
        return rows, good

    def street_tags(self, good, psi_rows) -> list[tuple[str, str]]:
        """Tags of a way in or near the street gate, in one of the
        name-variant archetypes."""
        r = self.r
        eng, chi = r.choice(good)
        hw = ("highway", r.choice(sorted(STREET_VALUES)))
        en, zh, reg = ("name:en", eng), ("name:zh", chi), ("name", f"{chi} {eng}")
        kind = r.randrange(12)
        if kind == 0:  # already canonical
            tags = [hw, reg, en, zh]
        elif kind == 1:
            tags = [hw, en]
        elif kind == 2:
            tags = [hw, zh]
        elif kind == 3:
            tags = [hw, reg]
        elif kind == 4:  # Chinese typo: only the English variant matches
            tags = [hw, reg if r.random() < 0.5 else ("name", eng), en, ("name:zh", chi[:-1] + "巷")]
        elif kind == 5:  # two official streets: ambiguous, left alone
            other = r.choice(good)
            tags = [hw, en, ("name:zh", other[1])]
        elif kind == 6:  # unknown street
            tags = [hw, ("name:en", "Nowhere " + r.choice(SUFFIXES).title())]
        elif kind == 7:  # repeated variant: the last one wins
            tags = [hw, ("name:en", eng.upper()), reg, en, zh]
        elif kind == 8:  # not a street: the gate keeps it out
            tags = [("highway", r.choice(OTHER_HIGHWAYS)), en]
        elif kind == 9:  # a PSI row the cleaning drops (or corrects)
            e, c = r.choice(psi_rows)
            e = NAME_FIXES.get(capwords(e), capwords(e))
            # (a Chinese name with surrounding spaces is never tagged)
            zh_ok = c is not None and c.strip() == c and r.random() < 0.5
            tags = [hw, ("name:en", e)] + ([("name:zh", c)] if zh_ok else [])
        elif kind == 10:  # namespaced variants that are not name:en/zh
            tags = [hw, reg, ("name:zh:yue", chi), ("name:en:old", eng)]
        else:  # Chinese-first name with only English tag
            tags = [hw, ("name", chi), en, ("ref", str(r.randint(1, 99)))]
        return tags

    def extra_tags(self, for_way: bool) -> list[tuple[str, str]]:
        r = self.r
        out = []
        roll = r.random()
        if roll < 0.08:
            out.append((r.choice(["phone", "fax", "contact:phone", "contact:fax", "mobile",
                                  "telephone", "whatsapp"]), self.phone()))
        elif roll < 0.11:
            out.append(("operator", self.phone() if r.random() < 0.3 else "MTR Corporation"))
        elif roll < 0.13:
            out.append(("source", self.hk() if r.random() < 0.3 else "survey"))
        if r.random() < 0.05:
            out.append((r.choice(PROBLEM_KEYS), "x"))
        if r.random() < 0.06:
            out.append(r.choice(COLON_KEYS))
        if for_way or r.random() < 0.5:
            out.append(r.choice(PLAIN_TAGS))
        return out

    def node_tags(self) -> list[tuple[str, str]]:
        r = self.r
        amenity = r.choice(AMENITIES)
        tags = [("amenity", amenity)]
        if amenity == "restaurant":
            tags.append(("cuisine", r.choice(CUISINES)))
        elif amenity == "place_of_worship":
            tags.append(("religion", r.choice(RELIGIONS)))
        if r.random() < 0.4:
            tags.append(("name", "".join(r.choice(CJK) for _ in range(3)) + " Shop"))
        return tags + self.extra_tags(False)


def _attrs(el: dict, keys) -> str:
    return " ".join(f"{k}={quoteattr(str(el[k]))}" for k in keys)


def _tag_xml(tags) -> list[str]:
    return [f"    <tag k={quoteattr(k)} v={quoteattr(v)}/>" for k, v in tags]


def generate(out_dir: str, seed: int, scale: float = 1.0) -> dict:
    """Write ``{out_dir}/extract.osm``, ``{out_dir}/psi.xml`` and
    ``{out_dir}/oracle.json``; return the oracle."""
    g = _Gen(seed)
    r = g.r
    psi_rows, good = g.psi()
    n_nodes, n_ways, n_rel = (max(int(round(c * scale)), lo)
                              for c, lo in ((13676, 40), (1958, 8), (242, 2)))
    users = [(f"mapper_{i}", 1000 + i) for i in range(max(n_nodes // 60, 5))]

    def meta(el_id: int) -> dict:
        user, uid = r.choice(users)
        return {"id": el_id, "user": user, "uid": uid, "version": r.randint(1, 9),
                "changeset": r.randint(10_000_000, 50_000_000),
                "timestamp": f"{r.randint(2009, 2017)}-{r.randint(1, 12):02d}-"
                             f"{r.randint(1, 28):02d}T{r.randint(0, 23):02d}:"
                             f"{r.randint(0, 59):02d}:{r.randint(0, 59):02d}Z"}

    nodes, ways, rels = [], [], []
    nid = 260_000_000 + r.randrange(1_000_000)
    for _ in range(n_nodes):
        nid += r.randint(1, 50)
        el = meta(nid)
        el["lat"] = f"{22.35 + r.random() * 0.08:.7f}"
        el["lon"] = f"{114.15 + r.random() * 0.1:.7f}"
        el["tags"] = g.node_tags() if r.random() < 0.05 else []
        nodes.append(el)
    node_ids = [n["id"] for n in nodes]
    wid = 20_000_000 + r.randrange(1_000_000)
    for _ in range(n_ways):
        wid += r.randint(1, 500)
        el = meta(wid)
        start = r.randrange(len(node_ids) - 20)
        nds = node_ids[start:start + r.randint(2, 15)]
        el["nds"] = nds + nds[:1] if r.random() < 0.2 else nds
        tags = g.street_tags(good, psi_rows) if r.random() < 0.45 else []
        el["tags"] = tags + g.extra_tags(True)
        ways.append(el)
    rid = 1_000_000 + r.randrange(100_000)
    for _ in range(n_rel):
        rid += r.randint(1, 100)
        el = meta(rid)
        el["members"] = [("way", r.choice(ways)["id"], "outer") for _ in range(r.randint(1, 4))]
        el["tags"] = [("type", r.choice(["route", "multipolygon"])), ("phone", g.hk())]
        rels.append(el)

    os.makedirs(out_dir, exist_ok=True)
    base = ("id", "user", "uid", "version", "changeset", "timestamp")
    lines = ['<?xml version="1.0" encoding="UTF-8"?>',
             '<osm version="0.6" generator="perfbench">',
             '  <bounds minlat="22.35" minlon="114.15" maxlat="22.43" maxlon="114.25"/>']
    for n in nodes:
        attrs = _attrs(n, base[:1] + ("lat", "lon") + base[1:])
        if n["tags"]:
            lines += [f"  <node {attrs}>", *_tag_xml(n["tags"]), "  </node>"]
        else:
            lines.append(f"  <node {attrs}/>")
    for w in ways:
        lines.append(f"  <way {_attrs(w, base)}>")
        lines += [f'    <nd ref="{ref}"/>' for ref in w["nds"]]
        lines += _tag_xml(w["tags"]) + ["  </way>"]
    for rel in rels:
        lines.append(f"  <relation {_attrs(rel, base)}>")
        lines += [f'    <member type="{t}" ref="{ref}" role="{role}"/>'
                  for t, ref, role in rel["members"]]
        lines += _tag_xml(rel["tags"]) + ["  </relation>"]
    lines.append("</osm>")
    with open(os.path.join(out_dir, "extract.osm"), "w", encoding="utf-8") as f:
        f.write("\n".join(lines) + "\n")

    psi_lines = ['<?xml version="1.0" encoding="UTF-8"?>', "<Data>"]
    for i, (e, c) in enumerate(psi_rows):
        psi_lines.append(
            f"<Row><English_Street_Name>{escape(e)}</English_Street_Name>"
            + (f"<Chinese_Street_Name>{escape(c)}</Chinese_Street_Name>" if c is not None else "")
            + f"<District_Code>{i % 18 + 1}</District_Code></Row>")
    psi_lines.append("</Data>")
    with open(os.path.join(out_dir, "psi.xml"), "w", encoding="utf-8") as f:
        f.write("\n".join(psi_lines) + "\n")

    oracle = compute_oracle(nodes, ways, psi_rows)
    oracle["relations"] = len(rels)
    with open(os.path.join(out_dir, "oracle.json"), "w") as f:
        json.dump(oracle, f, indent=1)
    return oracle

