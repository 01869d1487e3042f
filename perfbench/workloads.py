"""The nightly workloads: inputs, full and incremental phases, and the
output checks (made outside the timed phases).

Every phase reads its inputs from a fresh path (a hard-linked copy of
the generated files), so no repetition can reuse a file listing, a
memoised table or a compiled plan from an earlier one.
"""

from __future__ import annotations

import contextlib
import os

import pyarrow.parquet as pq

import gen

HERE = os.path.dirname(os.path.abspath(__file__))


def link_tree(src: str, dst: str) -> str:
    """Hard-link every file of ``src`` under the new directory ``dst``."""
    for dirpath, _, files in os.walk(src):
        out = os.path.join(dst, os.path.relpath(dirpath, src))
        os.makedirs(out, exist_ok=True)
        for f in files:
            os.link(os.path.join(dirpath, f), os.path.join(out, f))
    return dst


def tree_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def frame_hash(df, cols: list[str] | None = None) -> tuple[int, str]:
    """(rows, order-independent hash) of a frame: the sum of a 64-bit
    hash of every row's JSON (nulls are left out of the JSON, so a
    value moving between columns changes the row hash)."""
    from pyspark.sql import functions as F

    cols = sorted(cols or df.columns)
    row = df.select(
        F.xxhash64(F.to_json(F.struct(*[F.col(c).cast("string") for c in cols])))
        .cast("decimal(38,0)").alias("h")
    )
    r = row.agg(F.count("*").alias("n"), F.sum("h").alias("s")).first()
    return int(r["n"]), str(r["s"])


class Context:
    """What a workload needs from the runner: the session, a per-run
    work directory and span hooks (no-ops unless the run is traced)."""

    def __init__(self, spark, work: str, tracer=None):
        self.spark = spark
        self.work = work
        self.tracer = tracer

    def exec_span(self, layer: str):
        """The benchmark's own action that forces a layer's result."""
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(layer, kind="exec")


class Workload:
    name = ""

    def __init__(self, ctx: Context, seed: int):
        self.ctx = ctx
        self.seed = seed
        self.src = os.path.join(ctx.work, "src")
        self.info: dict = {}

    def path(self, rep: str, *parts: str) -> str:
        return os.path.join(self.ctx.work, rep, *parts)

    # Subclasses: generate() -> sizes (with ``source_bytes``, the bytes
    # of the source the store is built from), full(rep) -> result (night
    # 1 into the empty store of repetition ``rep``), incremental(rep) ->
    # result (night 2 over that store), check_full(result) /
    # check_incremental(result) -> list of problems, and store_bytes(rep)
    # -> live bytes after the incremental phase.


# ---------------------------------------------------------------------------


class KgNightly(Workload):
    name = "kg_nightly"
    ENTITIES = 1000
    # Document fields compared with the generator's expectation.
    DOC_FIELDS = ["schema_name", "schema_description", "dcterms_available",
                  "schema_keywords", "schema_maintainer_identifier"]

    def generate(self) -> dict:
        self.info = gen.gen_kg(self.src, self.seed, self.ENTITIES)
        self.docs = {n: self.info.pop(f"docs_{n}") for n in ("night1", "night2")}
        for n, docs in self.docs.items():
            self.info[f"expected_docs_{n}"] = len(docs)
        with open(os.path.join(HERE, "kg_view.sparql")) as f:
            self.text = f.read()
        return self.info

    def _night(self, rep: str, night: str, params=None):
        from prefect_flow_arc_kg_postgres_etl_spark.operators import sparql as SQ
        from prefect_flow_arc_kg_postgres_etl_spark.plans import reference_pipeline as RP

        spark = self.ctx.spark
        quads_path = link_tree(os.path.join(self.src, night), self.path(rep, night))
        quads = spark.read.parquet(quads_path)
        view = SQ.construct_query(quads, self.text, params)
        view_path = self.path(rep, f"view_{night}")
        with self.ctx.exec_span("sparql.construct"):
            view.write.mode("overwrite").parquet(view_path)
        triples = spark.read.parquet(view_path)
        docs = RP.reference_pipeline_flow(
            spark, quads_path, self.path(rep, "store"), triples=triples
        )
        with self.ctx.exec_span("store.read_snapshot"):
            n = docs.count()
        return night, docs, n

    def full(self, rep: str):
        return self._night(rep, "night1")

    def incremental(self, rep: str):
        return self._night(rep, "night2", {"since": gen.KG_SINCE})

    def _check(self, label: str, result) -> list[str]:
        """The documents equal the ones the generator expects for that
        night: same entities, and the fields night 2 edits."""
        night, docs, n = result
        want = self.docs[night]
        problems = [] if n == len(want) else [f"{label}: {n} documents, expected {len(want)}"]
        got = {
            r["iri"]: tuple(r[c] for c in self.DOC_FIELDS)
            for r in docs.select("iri", *self.DOC_FIELDS).collect()
        }
        problems += [
            f"{label}: document {iri} is {got.get(iri)}, expected {want.get(iri)}"
            for iri in sorted(set(want) | set(got)) if got.get(iri) != want.get(iri)
        ]
        return problems

    def check_full(self, result) -> list[str]:
        return self._check("full", result)

    def check_incremental(self, result) -> list[str]:
        return self._check("incremental", result)

    def store_bytes(self, rep: str) -> int:
        """Bytes of every table version the newest snapshot pins."""
        import json

        from prefect_flow_arc_kg_postgres_etl_spark.sources import store as S

        store_dir = self.path(rep, "store")
        with open(S.latest_manifest(store_dir)) as f:
            manifest = json.load(f)
        return sum(
            tree_bytes(S.version_dir(os.path.join(store_dir, f"{t}.parquet"), v))
            for t, v in manifest.items()
        )


# ---------------------------------------------------------------------------


class TableSync(Workload):
    name = "table_sync"
    SCALE = 6  # 1500 orders per unit: 9k orders, ~36k lines

    def generate(self) -> dict:
        self.info = gen.gen_tables(self.src, self.seed, self.SCALE)
        self.source_hashes: dict[str, tuple[int, str]] = {}
        return self.info

    def _sync(self, rep: str, night: str, **kw):
        from prefect_flow_arc_kg_postgres_etl_spark import flows

        sf = link_tree(os.path.join(self.src, night), self.path(rep, night))
        stats = flows.sync_flow(self.ctx.spark, sf, self.path(rep, "store"), **kw)
        return sf, stats

    def full(self, rep: str):
        return self._sync(rep, "night1", full_sync=True)

    def incremental(self, rep: str):
        return self._sync(rep, "night2", full_sync=False, since="auto")

    @staticmethod
    def _failed(stats) -> list[str]:
        return [
            f"table {t} failed: {d['error']}"
            for t, d in stats.tables.items()
            if d["status"] != "merged"
        ]

    def check_full(self, result) -> list[str]:
        return self._failed(result[1])

    def check_incremental(self, result) -> list[str]:
        """Every store table equals its night-2 source table."""
        from prefect_flow_arc_kg_postgres_etl_spark.sources import store as S
        from prefect_flow_arc_kg_postgres_etl_spark.sources.catalog import load_table

        sf, stats = result
        problems = self._failed(stats)
        store_dir = os.path.dirname(sf.rstrip("/")) + "/store"
        for t in gen.TPCH_SCHEMAS:
            src = load_table(self.ctx.spark, sf, t)
            if t not in self.source_hashes:  # night 2 is the same every phase
                self.source_hashes[t] = frame_hash(src)
            want = self.source_hashes[t]
            got = frame_hash(S.read_table(self.ctx.spark, f"{store_dir}/{t}.parquet"), src.columns)
            if got != want:
                problems.append(f"incremental: store table {t} {got} != night-2 source {want}")
        return problems

    def store_bytes(self, rep: str) -> int:
        """Live versions of every table plus the index feed."""
        from prefect_flow_arc_kg_postgres_etl_spark.sources import store as S

        store_dir = self.path(rep, "store")
        live = sum(
            tree_bytes(S.version_dir(f"{store_dir}/{t}.parquet",
                                     S.current_version(f"{store_dir}/{t}.parquet")))
            for t in gen.TPCH_SCHEMAS
        )
        return live + tree_bytes(f"{store_dir}/_index")


# ---------------------------------------------------------------------------


class CorpusDedup(Workload):
    name = "corpus_dedup"
    HISTORY, BATCH, PLANTED = 2000, 200, 80
    THRESHOLD = 0.8

    def generate(self) -> dict:
        self.info = gen.gen_corpus(self.src, self.seed, self.HISTORY, self.BATCH,
                                   self.PLANTED, self.THRESHOLD)
        texts = {}
        for name in ("history", "batch"):
            t = pq.read_table(os.path.join(self.src, f"{name}.parquet")).to_pydict()
            texts.update(zip(t["doc_id"], t["text"]))
        self.texts = texts
        above = [tuple(p) for p in self.info.pop("above")]
        self.above_history = {p for p in above if p[1] <= self.HISTORY}
        self.above_batch = {p for p in above if p[1] > self.HISTORY}
        return self.info

    def _docs(self, rep: str, name: str):
        dst = self.path(rep, f"{name}.parquet")
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        os.link(os.path.join(self.src, f"{name}.parquet"), dst)
        return self.ctx.spark.read.parquet(dst)

    def full(self, rep: str):
        """Builds the history index."""
        from prefect_flow_arc_kg_postgres_etl_spark.operators import dedup as D

        history = self._docs(rep, "history")
        D.build_dedup_index(history, self.path(rep, "index"))
        pairs = D.lsh_verified_pairs(history, self.THRESHOLD)
        with self.ctx.exec_span("dedup.lsh_verified"):
            pairs = pairs.localCheckpoint(eager=True)
        labels = D.cluster_components(pairs, history.select("doc_id"))
        with self.ctx.exec_span("dedup.cluster"):
            comp = {r["node"]: r["component"] for r in labels.collect()}
        return pairs, comp

    def incremental(self, rep: str):
        from prefect_flow_arc_kg_postgres_etl_spark.operators import dedup as D

        batch = self._docs(rep, "batch")
        found = D.incremental_dup_pairs_indexed(batch, self.path(rep, "index"), self.THRESHOLD)
        with self.ctx.exec_span("dedup.incremental_indexed"):
            return found.collect()

    def _check_pairs(self, label: str, got: set, planted: set) -> list[str]:
        problems = [f"{label}: planted pair {p} not reported" for p in sorted(planted - got)]
        for a, b in sorted(got):
            j = gen.jaccard(self.texts[a], self.texts[b])
            if j < self.THRESHOLD:
                problems.append(f"{label}: reported pair {(a, b)} has Jaccard {j:.4f}")
        return problems

    def check_full(self, result) -> list[str]:
        pairs, comp = result
        got = {(r["doc_a"], r["doc_b"]) for r in pairs.collect()}
        problems = self._check_pairs("full", got, self.above_history)
        problems += [
            f"full: pair {(a, b)} split across components"
            for a, b in sorted(got) if comp.get(a) != comp.get(b)
        ]
        return problems

    def check_incremental(self, result) -> list[str]:
        got = {(r["doc_a"], r["doc_b"]) for r in result}
        return self._check_pairs("incremental", got, self.above_batch)

    def store_bytes(self, rep: str) -> int:
        return tree_bytes(self.path(rep, "index"))


# ---------------------------------------------------------------------------


class SyncDedup(Workload):
    """Table sync, then corpus dedup, in one process: each phase runs
    the table-sync phase and then the dedup phase. They share a run so
    that the benchmark's fixed cost (a JVM start per run) is paid once
    for both paths."""

    name = "sync_dedup"

    def __init__(self, ctx: Context, seed: int):
        super().__init__(ctx, seed)
        self.parts = [
            cls(Context(ctx.spark, os.path.join(ctx.work, cls.name), ctx.tracer), seed)
            for cls in (TableSync, CorpusDedup)
        ]

    def generate(self) -> dict:
        self.info = {p.name: p.generate() for p in self.parts}
        self.info["source_bytes"] = sum(p.info["source_bytes"] for p in self.parts)
        self.info["changed_source_bytes"] = self.parts[0].info["changed_source_bytes"]
        return self.info

    def full(self, rep: str):
        return [p.full(rep) for p in self.parts]

    def incremental(self, rep: str):
        return [p.incremental(rep) for p in self.parts]

    def check_full(self, result) -> list[str]:
        return [x for p, r in zip(self.parts, result) for x in p.check_full(r)]

    def check_incremental(self, result) -> list[str]:
        return [x for p, r in zip(self.parts, result) for x in p.check_incremental(r)]

    def store_bytes(self, rep: str) -> int:
        return sum(p.store_bytes(rep) for p in self.parts)


WORKLOADS = {w.name: w for w in (KgNightly, SyncDedup)}
