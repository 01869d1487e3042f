"""Seeded input generators for the nightly-cycle benchmark.

Every generator is pure Python + pyarrow: the same seed writes the same
bytes, and nothing here starts Spark. Each returns a small ``dict`` of
facts the output checks need (expected counts, planted pairs, changed
row bytes); the package under test only ever sees the parquet files.
"""

from __future__ import annotations

import hashlib
import os
import random
from datetime import datetime, timedelta

import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# kg_nightly: a meemoo-shaped quad graph, predicate-partitioned parquet
# ---------------------------------------------------------------------------

SCHEMA = "https://schema.org/"
DCT = "http://purl.org/dc/terms/"
PREMIS = "http://www.loc.gov/premis/rdf/v3/"
EBUCORE = "https://www.ebu.ch/metadata/ontologies/ebucore/ebucore#"
ORG = "http://www.w3.org/ns/org#"
SKOS = "http://www.w3.org/2004/02/skos/core#"
HAORG = "https://data.hetarchief.be/ns/organization/"
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
ID = "https://data.hetarchief.be/id/"
GRAPH = "https://data.hetarchief.be/graph/"

# The incremental phase passes this as ``?since``: night-1 modification
# stamps are all before it, night-2 edits and additions after it.
KG_SINCE = "2026-10-01T00:00:00"
KG_ORGS = 40
# Night 2 edits this share of the entities and adds this share more.
KG_MODIFIED_SHARE = 0.05
KG_ADDED_SHARE = 0.02

FORMATS = ["video", "audio", "image", "newspaper", "film", "dvd"]
EXCLUDED_FORMATS = ["set", "newspaperpage"]
GENRES = ["documentaire", "nieuws", "fictie", "sport", "muziek", "reportage"]
LICENSES = ["VIAA-PUBLIEK-METADATA-ALL", "Publiek-Domein", "COPYRIGHT-UNDETERMINED"]
SYLLABLES = [
    "an", "ber", "co", "de", "el", "fa", "gen", "hof", "ik", "jan", "ka",
    "lo", "mer", "no", "op", "pie", "ra", "sel", "ter", "uil", "van", "wim",
]

QUAD_SCHEMA = pa.schema(
    [("subject", pa.string()), ("object", pa.string()),
     ("lang", pa.string()), ("graph", pa.string())]
)

# Characters Spark escapes in partition directory names
# (ExternalCatalogUtils.escapePathName), so pyarrow-written partitions
# read back with the exact predicate IRI.
_ESCAPE = set('"#%\'*/:=?\\\x7f{[]^')


def _escape_partition(value: str) -> str:
    return "".join(
        f"%{ord(c):02X}" if c in _ESCAPE or ord(c) < 0x20 else c for c in value
    )


def _words(rng: random.Random, n: int) -> str:
    return " ".join(
        "".join(rng.choice(SYLLABLES) for _ in range(rng.randint(2, 3)))
        for _ in range(n)
    )


def _stamp(rng: random.Random, start: datetime, days: int) -> str:
    return (start + timedelta(seconds=rng.randrange(days * 86400))).strftime(
        "%Y-%m-%dT%H:%M:%S"
    )


def _duration(rng: random.Random) -> str:
    s = rng.randrange(30, 3 * 3600)
    return f"PT{s // 3600}H{s % 3600 // 60}M{s % 60}S"


def _kg_entities(rng: random.Random, n_entities: int) -> list[dict]:
    night1 = datetime(2026, 1, 1)
    ents = []
    for i in range(n_entities):
        org = rng.randrange(KG_ORGS)
        roll = rng.random()
        if roll < 0.04:
            formats = [rng.choice(EXCLUDED_FORMATS)]  # no qualifying format
        else:
            formats = rng.sample(FORMATS, rng.randint(1, 2))
        ents.append(
            dict(
                key=f"e{i:06d}",
                org=org,
                # ~3% point at an organisation that is not in the graph:
                # the index's INNER maintainer join drops them.
                maintainer=999 if 0.04 <= roll < 0.07 else org,
                name_nl=_words(rng, 3),
                name_en=_words(rng, 3),
                desc=_words(rng, 12),
                modified=_stamp(rng, night1, 270),
                keywords=sorted({_words(rng, 1) for _ in range(rng.randint(1, 4))}),
                formats=formats,
                genres=rng.sample(GENRES, rng.randint(0, 2)),
                license=rng.choice(LICENSES),
                files=[
                    dict(
                        mime=rng.choice(["video/mp4", "audio/mpeg", "image/jpeg"]),
                        duration=_duration(rng),
                        name=_words(rng, 1) + ".bin",
                    )
                    for _ in range(rng.randint(1, 2))
                ],
            )
        )
    return ents


def _org_quads() -> list[tuple]:
    g = GRAPH + "organizations"
    out = []
    for o in range(KG_ORGS):
        s = f"{ID}organization/OR-{o}"
        out += [
            (s, RDF_TYPE, ORG + "Organization", None, g),
            (s, ORG + "identifier", f"OR-{o}", None, g),
            (s, SKOS + "prefLabel", f"Archief {o}", "nl", g),
            (s, SKOS + "prefLabel", f"Archive {o}", "en", g),
            (s, HAORG + "sector", ["cultuur", "overheid", "media"][o % 3], None, g),
            (s, ORG + "classification", "ContentPartner", None, g),
            (s, SCHEMA + "dateModified", "2025-06-01T00:00:00", None, g),
        ]
    return out


def _entity_quads(e: dict) -> list[tuple]:
    g = f"{GRAPH}OR-{e['org']}"
    s = f"{ID}entity/{e['key']}"
    out = [
        (s, RDF_TYPE, SCHEMA + "CreativeWork", None, g),
        (s, SCHEMA + "identifier", e["key"], None, g),
        (s, SCHEMA + "name", e["name_nl"], "nl", g),
        (s, SCHEMA + "name", e["name_en"], "en", g),
        (s, SCHEMA + "description", e["desc"], "nl", g),
        (s, SCHEMA + "maintainer", f"{ID}organization/OR-{e['maintainer']}", None, g),
        (s, SCHEMA + "dateModified", e["modified"], None, g),
        (s, SCHEMA + "license", e["license"], None, g),
    ]
    out += [(s, SCHEMA + "keywords", k, "nl", g) for k in e["keywords"]]
    out += [(s, DCT + "format", f, None, g) for f in e["formats"]]
    out += [(s, SCHEMA + "genre", x, None, g) for x in e["genres"]]
    rep = f"{ID}representation/{e['key']}"
    out += [
        (rep, PREMIS + "represents", s, None, g),
        (rep, SCHEMA + "name", e["name_nl"], None, g),
    ]
    for j, f in enumerate(e["files"]):
        fs = f"{ID}file/{e['key']}-{j}"
        out += [
            (rep, PREMIS + "includes", fs, None, g),
            (fs, EBUCORE + "hasMimeType", f["mime"], None, g),
            (fs, SCHEMA + "duration", f["duration"], None, g),
            (fs, SCHEMA + "name", f["name"], None, g),
        ]
    return out


def _write_quads(quads: list[tuple], path: str) -> int:
    """Land quads as ``predicate=<escaped IRI>/part-0.parquet`` — the
    vertical-partitioning layout the seeded stores in ``plans/kg.py``
    write through Spark. Returns the bytes written."""
    by_pred: dict[str, list[tuple]] = {}
    for s, p, o, lang, g in sorted(set(quads), key=lambda q: (q[1], q[0], q[2], q[4] or "")):
        by_pred.setdefault(p, []).append((s, o, lang, g))
    total = 0
    for p, rows in by_pred.items():
        d = os.path.join(path, f"predicate={_escape_partition(p)}")
        os.makedirs(d, exist_ok=True)
        cols = list(zip(*rows))
        table = pa.Table.from_arrays(
            [pa.array(c, pa.string()) for c in cols], schema=QUAD_SCHEMA
        )
        f = os.path.join(d, "part-00000.parquet")
        pq.write_table(table, f, compression="snappy")
        total += os.path.getsize(f)
    return total


def _quad_bytes(quads: list[tuple]) -> int:
    return sum(len(x.encode()) for q in quads for x in q if x is not None)


def expected_documents(ents: list[dict]) -> dict[str, tuple]:
    """The index documents the pipeline must emit, keyed by entity IRI:
    one per entity with a qualifying format and a maintainer present in
    the graph, as (schema_name, schema_description, dcterms_available,
    schema_keywords, schema_maintainer_identifier)."""
    return {
        f"{ID}entity/{e['key']}": (
            e["name_nl"], e["desc"], e["modified"], "|".join(e["keywords"]),
            f"OR-{e['maintainer']}",
        )
        for e in ents
        if e["maintainer"] < KG_ORGS
        and any(f not in EXCLUDED_FORMATS for f in e["formats"])
    }


def gen_kg(root: str, seed: int, n_entities: int) -> dict:
    """Write ``night1/`` and ``night2/`` quad stores under ``root``.

    Night 2 edits a seeded share of entities (new Dutch name and
    description, one extra keyword, a bumped dateModified) and adds new
    ones. Edits only replace single-valued columns or add multi-value
    rows, so a SINCE-scoped upsert over night 1 converges to a full load
    of night 2. ``docs_night1``/``docs_night2`` hold each night's
    expected documents."""
    rng = random.Random(seed)
    ents = _kg_entities(rng, n_entities)
    orgs = _org_quads()
    night1_quads = orgs + [q for e in ents for q in _entity_quads(e)]
    _write_quads(night1_quads, os.path.join(root, "night1"))

    night2 = datetime(2026, 10, 1, 1)
    ents2 = [dict(e) for e in ents]
    changed = rng.sample(range(n_entities), int(n_entities * KG_MODIFIED_SHARE))
    for i in changed:
        e = ents2[i]
        e["name_nl"] = _words(rng, 3)
        e["desc"] = _words(rng, 12)
        e["keywords"] = sorted(set(e["keywords"]) | {_words(rng, 1)})
        e["modified"] = _stamp(rng, night2, 1)
    added = _kg_entities(rng, int(n_entities * KG_ADDED_SHARE))
    for j, e in enumerate(added):
        e["key"] = f"n{j:06d}"
        e["modified"] = _stamp(rng, night2, 1)
    ents2 += added
    night2_quads = orgs + [q for e in ents2 for q in _entity_quads(e)]
    night2_bytes = _write_quads(night2_quads, os.path.join(root, "night2"))
    touched = [ents2[i] for i in changed] + added
    return dict(
        entities=n_entities,
        organisations=KG_ORGS,
        night1_quads=len(set(night1_quads)),
        night2_quads=len(set(night2_quads)),
        modified_entities=len(changed),
        added_entities=len(added),
        source_bytes=night2_bytes,
        changed_source_bytes=_quad_bytes([q for e in touched for q in _entity_quads(e)]),
        docs_night1=expected_documents(ents),
        docs_night2=expected_documents(ents2),
    )


# ---------------------------------------------------------------------------
# table_sync: TPC-H-shaped tables plus an events table
# ---------------------------------------------------------------------------

TS = pa.timestamp("us")
TPCH_SCHEMAS = {
    "region": pa.schema([("r_regionkey", pa.int32()), ("r_name", pa.string())]),
    "nation": pa.schema([("n_nationkey", pa.int32()), ("n_name", pa.string()),
                         ("n_regionkey", pa.int32())]),
    "customer": pa.schema([("c_custkey", pa.int64()), ("c_name", pa.string()),
                           ("c_nationkey", pa.int32()), ("c_acctbal", pa.float64()),
                           ("c_mktsegment", pa.string())]),
    "supplier": pa.schema([("s_suppkey", pa.int64()), ("s_name", pa.string()),
                           ("s_nationkey", pa.int32()), ("s_acctbal", pa.float64())]),
    "part": pa.schema([("p_partkey", pa.int64()), ("p_name", pa.string()),
                       ("p_brand", pa.string()), ("p_type", pa.string()),
                       ("p_size", pa.int32()), ("p_retailprice", pa.float64())]),
    "orders": pa.schema([("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
                         ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
                         ("o_orderdate", TS), ("o_orderpriority", pa.string())]),
    "lineitem": pa.schema([("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
                           ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
                           ("l_quantity", pa.float64()), ("l_extendedprice", pa.float64()),
                           ("l_discount", pa.float64()), ("l_tax", pa.float64()),
                           ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
                           ("l_shipdate", TS)]),
    "events": pa.schema([("event_id", pa.int64()), ("ts", TS), ("user_id", pa.int64()),
                         ("event_type", pa.string()), ("value", pa.float64()),
                         ("props", pa.string())]),
}
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
# Night 2 modifies this share of the orders.
TABLES_MODIFIED_SHARE = 0.02


def _tpch_rows(rng: random.Random, scale: int) -> dict[str, list[tuple]]:
    n_cust, n_supp, n_part, n_orders = 150 * scale, 10 * scale, 200 * scale, 1500 * scale
    base = datetime(2024, 1, 1)
    t = {
        "region": [(r, f"REGION{r}") for r in range(5)],
        "nation": [(n, f"NATION{n}", n % 5) for n in range(25)],
        "customer": [
            (c, f"Customer#{c:09d}", rng.randrange(25), round(rng.uniform(-999, 9999), 2),
             rng.choice(SEGMENTS))
            for c in range(1, n_cust + 1)
        ],
        "supplier": [
            (s, f"Supplier#{s:09d}", rng.randrange(25), round(rng.uniform(-999, 9999), 2))
            for s in range(1, n_supp + 1)
        ],
        "part": [
            (p, _words(rng, 2), f"Brand#{rng.randint(11, 55)}", f"TYPE{rng.randrange(30)}",
             rng.randint(1, 50), round(rng.uniform(900, 2000), 2))
            for p in range(1, n_part + 1)
        ],
    }
    orders, lines = [], []
    for o in range(1, n_orders + 1):
        date = base + timedelta(seconds=rng.randrange(600 * 86400))
        orders.append((o, rng.randint(1, n_cust), rng.choice("FOP"),
                       round(rng.uniform(1000, 400000), 2), date, rng.choice(PRIORITIES)))
        for ln in range(1, rng.randint(1, 7) + 1):
            lines.append((o, rng.randint(1, n_part), rng.randint(1, n_supp), ln,
                          float(rng.randint(1, 50)), round(rng.uniform(900, 90000), 2),
                          round(rng.uniform(0, 0.1), 2), round(rng.uniform(0, 0.08), 2),
                          rng.choice("ANR"), rng.choice("OF"),
                          date + timedelta(days=rng.randint(1, 120))))
    t["orders"], t["lineitem"] = orders, lines
    t["events"] = [
        (e, base + timedelta(seconds=rng.randrange(600 * 86400)), rng.randint(1, n_cust),
         rng.choice(["view", "click", "search", "download"]), round(rng.uniform(0, 100), 3),
         f'{{"k":{rng.randrange(100)}}}')
        for e in range(1, 700 * scale + 1)
    ]
    return t


def _write_tables(rows: dict[str, list[tuple]], path: str) -> int:
    os.makedirs(path, exist_ok=True)
    total = 0
    for name, schema in TPCH_SCHEMAS.items():
        cols = list(zip(*rows[name]))
        table = pa.Table.from_arrays(
            [pa.array(c, f.type) for c, f in zip(cols, schema)], schema=schema
        )
        f = os.path.join(path, f"{name}.parquet")
        pq.write_table(table, f, compression="snappy")
        total += os.path.getsize(f)
    return total


def _row_bytes(schema: pa.Schema, rows: list[tuple]) -> int:
    if not rows:
        return 0
    cols = list(zip(*rows))
    return pa.Table.from_arrays(
        [pa.array(c, f.type) for c, f in zip(cols, schema)], schema=schema
    ).nbytes


def gen_tables(root: str, seed: int, scale: int) -> dict:
    """Write ``night1/`` and ``night2/`` table directories under ``root``.

    Night 2 modifies a seeded share of orders: new status and total, and
    an order date past every night-1 date (the table's SINCE column). The
    lines of those orders follow with new quantities and a ship date past
    every night-1 ship date, so the incremental sync re-stages them."""
    rng = random.Random(seed)
    t1 = _tpch_rows(rng, scale)
    _write_tables(t1, os.path.join(root, "night1"))
    t2 = {k: list(v) for k, v in t1.items()}
    max_order = max(r[4] for r in t1["orders"])
    max_ship = max(r[10] for r in t1["lineitem"])
    changed = set(rng.sample(range(len(t1["orders"])), int(len(t1["orders"]) * TABLES_MODIFIED_SHARE)))
    changed_keys = set()
    for i in changed:
        o = t2["orders"][i]
        changed_keys.add(o[0])
        t2["orders"][i] = (o[0], o[1], rng.choice("FOP"), round(rng.uniform(1000, 400000), 2),
                           max_order + timedelta(seconds=rng.randrange(1, 86400)), o[5])
    for i, ln in enumerate(t2["lineitem"]):
        if ln[0] in changed_keys:
            t2["lineitem"][i] = ln[:4] + (float(rng.randint(1, 50)),) + ln[5:10] + (
                max_ship + timedelta(seconds=rng.randrange(1, 86400)),)
    night2_bytes = _write_tables(t2, os.path.join(root, "night2"))
    changed_orders = [t2["orders"][i] for i in sorted(changed)]
    changed_lines = [ln for ln in t2["lineitem"] if ln[0] in changed_keys]
    return dict(
        scale=scale,
        rows={k: len(v) for k, v in t1.items()},
        modified_orders=len(changed_orders),
        modified_lines=len(changed_lines),
        source_bytes=night2_bytes,
        changed_source_bytes=_row_bytes(TPCH_SCHEMAS["orders"], changed_orders)
        + _row_bytes(TPCH_SCHEMAS["lineitem"], changed_lines),
    )


# ---------------------------------------------------------------------------
# corpus_dedup: a synthetic text corpus with planted near-duplicates
# ---------------------------------------------------------------------------

DOC_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string())])
# Words per shingle, as ``operators.dedup`` builds them.
SHINGLE_N = 3


def shingles(text: str) -> set[tuple[str, ...]]:
    """Distinct word n-grams of lower-cased whitespace tokens — the
    shingle set ``operators.dedup`` hashes."""
    w = text.lower().split()
    return {tuple(w[i:i + SHINGLE_N]) for i in range(len(w) - SHINGLE_N + 1)}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / len(sa | sb) if sa or sb else 0.0


def _mutate(rng: random.Random, words: list[str], vocab: list[str], edits: int) -> list[str]:
    out = list(words)
    for pos in rng.sample(range(len(out)), edits):
        out[pos] = rng.choice(vocab)
    return out


def gen_corpus(root: str, seed: int, n_history: int, n_batch: int,
               n_planted: int, threshold: float) -> dict:
    """Write ``history.parquet`` and ``batch.parquet`` under ``root``.

    Planted pairs copy a history document with one or two word edits
    (exact Jaccard well above ``threshold``); decoys take ten or more
    edits (below it). Half the plants pair two history documents, half
    pair a batch document with a history document. The returned
    ``above`` lists the pairs whose exact Jaccard reaches ``threshold``."""
    rng = random.Random(seed)
    vocab = sorted({"".join(rng.choice("abcdefghijklmnopqrstuvwxyz")
                            for _ in range(rng.randint(3, 9))) for _ in range(6000)})
    weights = [1.0 / (r + 1) for r in range(len(vocab))]

    def doc() -> list[str]:
        return rng.choices(vocab, weights, k=rng.randint(80, 140))

    history = {i: doc() for i in range(1, n_history + 1)}
    batch = {n_history + i: doc() for i in range(1, n_batch + 1)}
    # Every planted pair uses documents no other pair touches, so each
    # near-duplicate component is one pair and clustering converges in
    # the same number of rounds for every seed.
    h_ids = rng.sample(sorted(history), 2 * n_planted)
    b_ids = rng.sample(sorted(batch), n_planted)
    planted, decoys = [], []
    for j in range(n_planted):
        src = h_ids[2 * j]
        edits = rng.randint(1, 2) if j % 2 == 0 else rng.randint(10, 16)
        text = _mutate(rng, history[src], vocab, edits)
        if j % 4 < 2:  # history-history pair
            dst = h_ids[2 * j + 1]
            history[dst] = text
        else:  # batch-history pair
            dst = b_ids[j]
            batch[dst] = text
        (planted if j % 2 == 0 else decoys).append((min(src, dst), max(src, dst)))

    def write(docs: dict[int, list[str]], name: str) -> int:
        ids = sorted(docs)
        table = pa.Table.from_arrays(
            [pa.array(ids, pa.int64()), pa.array([" ".join(docs[i]) for i in ids])],
            schema=DOC_SCHEMA,
        )
        f = os.path.join(root, f"{name}.parquet")
        os.makedirs(root, exist_ok=True)
        pq.write_table(table, f, compression="snappy")
        return os.path.getsize(f)

    hist_bytes = write(history, "history")
    write(batch, "batch")
    texts = {**{i: " ".join(w) for i, w in history.items()},
             **{i: " ".join(w) for i, w in batch.items()}}
    pairs = sorted(planted + decoys)
    above = [p for p in pairs if jaccard(texts[p[0]], texts[p[1]]) >= threshold]
    return dict(
        history_docs=n_history,
        batch_docs=n_batch,
        planted_pairs=len(pairs),
        planted_above=len(above),
        above=[list(p) for p in above],
        source_bytes=hist_bytes,
        texts_digest=hashlib.sha256(
            "\n".join(texts[i] for i in sorted(texts)).encode()
        ).hexdigest(),
    )
