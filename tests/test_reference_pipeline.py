"""The composed reference pipeline (plans/reference_pipeline).

Three layers:
- differential fixture tests: a hand-built graph.* table set exercises
  every update_partition.sql arm the composed synthetic corpus leaves
  dead (fragment children, child transcripts in page order, mention
  roll-up, first-position child thumbnails, the image-priority format
  pick, the audio carrier flag) — Spark build vs the SAME oracle SQL
  body over the SAME tables in DuckDB.
- targeted value assertions on those arms (the oracle could be wrong
  the same way the build is; these pin absolute values).
- full/incremental convergence: re-syncing a subject-complete batch of
  the view graph through the FK-ordered upsert fold reaches the same
  index documents as one full sync (the reference's since-window
  re-emission pattern, 2_database_load.ts USE_MERGE path).
"""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from prefect_flow_arc_kg_postgres_etl_spark.operators import merge as M
from prefect_flow_arc_kg_postgres_etl_spark.plans import reference_pipeline as RP

E = "https://x/e/"


def _fixture_rows() -> dict[str, list[dict]]:
    """A graph.* table set with every previously-dead arm live."""
    ie = [
        # E1: newspaper parent with two children, licenses incl PD.
        dict(subject=E + "1", id=E + "1", schema_identifier="e1",
             schema_name="Krant", schema_maintainer="https://x/org/OR-1",
             schema_description="desc1", ha_des_number_of_pages="2"),
        dict(subject=E + "1c1", id=E + "1c1", schema_identifier="e1c1",
             schema_name="p2", schema_maintainer="https://x/org/OR-1",
             relation_is_part_of=E + "1", schema_position="2"),
        dict(subject=E + "1c2", id=E + "1c2", schema_identifier="e1c2",
             schema_name="p1", schema_maintainer="https://x/org/OR-1",
             relation_is_part_of=E + "1", schema_position="1"),
        # E2: film with a sound carrier -> audio true.
        dict(subject=E + "2", id=E + "2", schema_identifier="e2",
             schema_name="Spoel", schema_maintainer="https://x/org/OR-1"),
        # E3: film with an image carrier -> audio false.
        dict(subject=E + "3", id=E + "3", schema_identifier="e3",
             schema_name="Beeld", schema_maintainer="https://x/org/OR-2"),
        # E4: image beats video in the priority pick.
        dict(subject=E + "4", id=E + "4", schema_identifier="e4",
             schema_name="Foto", schema_maintainer="https://x/org/OR-2"),
        # E5: only excluded formats -> dropped by the INNER format join.
        dict(subject=E + "5", id=E + "5", schema_identifier="e5",
             schema_name="Set", schema_maintainer="https://x/org/OR-1"),
        # E6: unresolvable maintainer -> dropped by the INNER org join.
        dict(subject=E + "6", id=E + "6", schema_identifier="e6",
             schema_name="Wees", schema_maintainer="https://x/org/OR-999"),
    ]
    fmt = [
        dict(subject="f1", intellectual_entity_id=E + "1", dcterms_format="newspaper"),
        dict(subject="f1b", intellectual_entity_id=E + "1", dcterms_format="dvd"),
        dict(subject="f1c1", intellectual_entity_id=E + "1c1", dcterms_format="pagefragment"),
        dict(subject="f1c2", intellectual_entity_id=E + "1c2", dcterms_format="audio"),
        dict(subject="f2", intellectual_entity_id=E + "2", dcterms_format="film"),
        dict(subject="f3", intellectual_entity_id=E + "3", dcterms_format="film"),
        dict(subject="f4a", intellectual_entity_id=E + "4", dcterms_format="image"),
        dict(subject="f4b", intellectual_entity_id=E + "4", dcterms_format="video"),
        dict(subject="f5", intellectual_entity_id=E + "5", dcterms_format="newspaperpage"),
        dict(subject="f6", intellectual_entity_id=E + "6", dcterms_format="video"),
    ]
    org = [
        dict(subject="o1", id="o1", org_identifier="OR-1",
             skos_pref_label="Het Archief (v z w)", ha_org_sector="cultuur",
             org_classification="ContentPartner"),
        dict(subject="o2", id="o2", org_identifier="OR-2",
             skos_pref_label="Stad", ha_org_sector="overheid",
             org_classification="ContentPartner"),
    ]
    rep = [
        # children's representations carrying transcripts
        dict(subject="r1", id="r1", premis_represents=E + "1c1",
             schema_transcript="tweede blad"),
        dict(subject="r2", id="r2", premis_represents=E + "1c2",
             schema_transcript="eerste blad"),
        # E2: media fragment -> duration 40
        dict(subject="r3", id="r3", premis_represents=E + "2",
             is_media_fragment_of="fv", schema_start_time="10",
             schema_end_time="50"),
        # E2: plain representation holding the mp4 -> duration 42
        dict(subject="r4", id="r4", premis_represents=E + "2"),
    ]
    inc = [
        dict(subject="i1", representation_id="r1", file_id="ft1"),
        dict(subject="i2", representation_id="r2", file_id="ft2"),
        dict(subject="i3", representation_id="r4", file_id="fv"),
    ]
    file = [
        dict(subject="ft1", id="ft1", schema_thumbnail_url="https://t/2"),
        dict(subject="ft2", id="ft2", schema_thumbnail_url="https://t/1"),
        dict(subject="fv", id="fv", ebucore_has_mime_type="video/mp4",
             schema_duration="PT42S"),
    ]
    carrier = [
        dict(subject="c1", id="c1", intellectual_entity_id=E + "2",
             type="Geluidsband", premis_medium="band"),
        dict(subject="c2", id="c2", intellectual_entity_id=E + "3",
             type="Beeldband", premis_medium="band"),
        dict(subject="c3", id="c3", intellectual_entity_id=E + "3",
             premis_medium="doos"),
    ]
    lic = [
        dict(subject="l1", intellectual_entity_id=E + "1",
             schema_license="Publiek-Domein"),
        dict(subject="l1b", intellectual_entity_id=E + "1",
             schema_license="VIAA-PUBLIEK-METADATA-ALL"),
        dict(subject="l2", intellectual_entity_id=E + "2",
             schema_license="COPYRIGHT-UNDETERMINED"),
    ]
    mentions = [
        dict(subject="m1", id="m1", intellectual_entity_id=E + "1c1",
             thing_id="t1", confidence="0.9"),
        dict(subject="m2", id="m2", intellectual_entity_id=E + "1c2",
             thing_id="t2", confidence="0.8"),
    ]
    thing = [
        dict(subject="t1", id="t1", schema_name="Ada"),
        dict(subject="t2", id="t2", schema_name="Bert"),
    ]
    pid = [
        dict(subject="pi1", intellectual_entity_id=E + "1",
             type="meemoo-pid", value="abc"),
        dict(subject="pi2", intellectual_entity_id=E + "1", value="raw"),
    ]
    sipo = [
        dict(subject="po1", intellectual_entity_id=E + "1",
             collection_id="co1", type="serie"),
        dict(subject="po2", intellectual_entity_id=E + "1",
             collection_id="coX", type="archief"),  # missing collection
    ]
    coll = [
        dict(subject="co1", id="co1", schema_name="De Krant",
             schema_location_created="Gent"),
    ]
    mf = [
        dict(subject="mf1", intellectual_entity_id=E + "1", is_deleted="true",
             mh_fragment_identifier="F1"),
        dict(subject="mf2", intellectual_entity_id=E + "1", is_deleted="false",
             mh_fragment_identifier="F2"),
        dict(subject="mf3", intellectual_entity_id=E + "2", is_deleted="false",
             mh_fragment_identifier="F3"),
    ]
    role = [
        dict(subject="sr1", id="sr1", intellectual_entity_id=E + "1",
             thing_id="t1", type="schema_creator", schema_role_name="auteur"),
        dict(subject="sr2", id="sr2", intellectual_entity_id=E + "1",
             thing_id="t2", type="schema_creator", schema_role_name="auteur"),
        dict(subject="sr3", id="sr3", intellectual_entity_id=E + "1",
             thing_id="t1", type="schema_publisher", schema_role_name="uitgever"),
    ]
    return {
        "graph.intellectual_entity": ie,
        "graph.organization": org,
        "graph.dcterms_format": fmt,
        "graph.representation": rep,
        "graph.includes": inc,
        "graph.file": file,
        "graph.carrier": carrier,
        "graph.schema_license": lic,
        "graph.schema_mentions": mentions,
        "graph.thing": thing,
        "graph.premis_identifier": pid,
        "graph.schema_is_part_of": sipo,
        "graph.collection": coll,
        "graph.mh_fragment_identifier": mf,
        "graph.schema_role": role,
        # coloring types reach the entity through its carriers
        "graph.ha_des_coloring_type": [
            dict(subject="ct1", carrier_id="c2", ha_des_coloring_type="zwart-wit"),
            dict(subject="ct2", carrier_id="c3", ha_des_coloring_type="kleur"),
            dict(subject="ct3", carrier_id="c1", ha_des_coloring_type="kleur"),
        ],
        "graph.schema_spatial": [
            dict(subject="sp1", intellectual_entity_id=E + "1", schema_spatial="Gent"),
            dict(subject="sp2", intellectual_entity_id=E + "1",
                 schema_spatial="Antwerpen"),
            dict(subject="sp3", intellectual_entity_id=E + "5", schema_spatial="Brugge"),
        ],
        "graph.schema_temporal": [
            dict(subject="te1", intellectual_entity_id=E + "2", schema_temporal="1914"),
        ],
        "graph.schema_keywords": [
            dict(subject="kw1", intellectual_entity_id=E + "1", schema_keywords="oorlog"),
            dict(subject="kw2", intellectual_entity_id=E + "1", schema_keywords="krant"),
            dict(subject="kw3", intellectual_entity_id=E + "4", schema_keywords="stad"),
        ],
        "graph.schema_genre": [
            dict(subject="g1", intellectual_entity_id=E + "2", schema_genre="drama"),
            dict(subject="g2", intellectual_entity_id=E + "2",
                 schema_genre="documentaire"),
        ],
        "graph.schema_in_language": [
            dict(subject="la1", intellectual_entity_id=E + "3", schema_in_language="nl"),
            dict(subject="la2", intellectual_entity_id=E + "3", schema_in_language="fr"),
        ],
        "graph.schema_alternate_name": [
            dict(subject="an1", intellectual_entity_id=E + "4",
                 schema_alternate_name="Foto van de stad"),
            dict(subject="an2", intellectual_entity_id=E + "1c1",
                 schema_alternate_name="blad 2"),
        ],
    }


def _spark_tables(spark, rows_by_table):
    out = {}
    for tbl, rows in rows_by_table.items():
        cols = ["subject", *RP.GRAPH_TABLE_COLUMNS[tbl]]
        schema = ", ".join(f"`{c}` string" for c in cols)
        data = [tuple(r.get(c) for c in cols) for r in rows]
        out[tbl] = spark.createDataFrame(data, schema)
    return out


def _duck_tables(con, rows_by_table):
    for tbl, rows in rows_by_table.items():
        name = "p_" + tbl.split(".", 1)[1]
        cols = ["subject", *RP.GRAPH_TABLE_COLUMNS[tbl]]
        defs = ", ".join(f"{c} VARCHAR" for c in cols)
        con.execute(f"CREATE TABLE {name} ({defs})")
        for r in rows:
            con.execute(
                f"INSERT INTO {name} VALUES ({', '.join('?' for _ in cols)})",
                [r.get(c) for c in cols],
            )


def _docs_pdf(spark, rows_by_table):
    t = _spark_tables(spark, rows_by_table)
    return (
        RP.build_reference_index_documents(t, RP.SYNTHETIC_STORE_ADAPTER)
        .toPandas()
        .sort_values("iri")
        .reset_index(drop=True)
    )


def test_fixture_matches_oracle_body(spark):
    rows = _fixture_rows()
    got = _docs_pdf(spark, rows)
    con = duckdb.connect()
    _duck_tables(con, rows)
    want = (
        con.execute("WITH " + RP._ORACLE_BODY)
        .df()
        .sort_values("iri")
        .reset_index(drop=True)
    )
    assert list(got.columns) == list(want.columns)
    assert len(got) == len(want)
    for c in got.columns:
        assert got[c].astype(str).tolist() == want[c].astype(str).tolist(), c


def test_previously_dead_arms_are_live(spark):
    got = _docs_pdf(spark, _fixture_rows()).set_index("iri")
    # INNER joins drop E5 (excluded formats) and E6 (unknown org).
    assert sorted(got.index) == [E + "1", E + "2", E + "3", E + "4"]
    e1, e2, e3, e4 = got.loc[E + "1"], got.loc[E + "2"], got.loc[E + "3"], got.loc[E + "4"]
    # transcript: child page order (position 1 before 2), newline-joined
    assert e1["schema_transcript"] == "eerste blad\ntweede blad"
    # fragment children count: only the %fragment-format child counts
    assert e1["children"] == 1 and e2["children"] == 0
    # mentions roll up from the children to the parent, sorted distinct
    assert e1["schema_mentions"] == "Ada|Bert"
    # first-position child thumbnail leg
    assert e1["schema_thumbnail_url"] == "https://t/1"
    # format priority: newspaper beats dvd; image beats video
    assert e1["dcterms_format"] == "newspaper"
    assert e4["dcterms_format"] == "image"
    # audio carrier flag, gated on the film format
    assert e2["audio"] == "true" and e3["audio"] == "false"
    # duration: max(union(file-based 42, fragment-based 40))
    assert e2["schema_duration"] == 42
    # rights statements + inline reuse lookup
    assert e1["dcterms_rights_statement"].endswith("publicdomain/mark/1.0/")
    assert e1["reuse_category_label"] == "Publiek domein"
    assert e2["reuse_category_label"] == "Copyright onbepaald"
    # bool_or over MAM fragments
    assert e1["is_deleted"] == "true" and e2["is_deleted"] == "false"
    # untyped premis identifier keeps the ':value' form, sorted
    assert e1["premis_identifier"] == ":raw|meemoo-pid:abc"
    # is_part_of object agg: missing collection -> empty name list
    assert e1["schema_is_part_of"] == "archief=[];serie=[De Krant]"
    # roles: names aggregated per (type, role)
    assert e1["schema_creator"] == "auteur=[Ada|Bert]"
    assert e1["schema_publisher"] == "uitgever=[Ada]"
    # the slug'd maintainer alt label
    assert e1["schema_maintainer_alt_label"] == "het-archief-v-z-w"
    # plain per-entity value aggregates, sorted and '|'-joined; rows of
    # a child (E1c1) or a dropped entity (E5) reach no document
    assert e1["schema_spatial_coverage"] == "Antwerpen|Gent"
    assert e2["schema_temporal_coverage"] == "1914"
    assert e1["schema_keywords"] == "krant|oorlog"
    assert e4["schema_keywords"] == "stad"
    assert e2["schema_genre"] == "documentaire|drama"
    assert e3["schema_in_language"] == "fr|nl"
    assert e4["schema_alternate_name"] == "Foto van de stad"
    assert e1["schema_alternate_name"] is None
    # coloring types via the entity's carriers (E3 has two carriers)
    assert e3["meemoofilm_color"] == "kleur|zwart-wit"
    assert e2["meemoofilm_color"] == "kleur"
    assert e4["meemoofilm_color"] is None


@pytest.mark.parametrize(
    "literal,seconds",
    [("PT1M2S", 62), ("PT1H2M3S", 3723), ("P1DT0S", 86400)],
)
def test_duration_literal_reads_as_seconds(spark, literal, seconds):
    """A file's XSD duration counts in seconds (coercion's
    iso_duration_seconds rule), in Spark and in the DuckDB oracle body:
    the first digit run read PT1M2S as 1, below the fragment leg's 40."""
    rows = _fixture_rows()
    for f in rows["graph.file"]:
        if f["subject"] == "fv":
            f["schema_duration"] = literal
    got = _docs_pdf(spark, rows).set_index("iri")
    assert got.loc[E + "2", "schema_duration"] == seconds
    con = duckdb.connect()
    _duck_tables(con, rows)
    want = con.execute("WITH " + RP._ORACLE_BODY).df().set_index("iri")
    assert want.loc[E + "2", "schema_duration"] == seconds
    assert got["schema_duration"].astype(str).sort_index().tolist() == (
        want["schema_duration"].astype(str).sort_index().tolist()
    )


def test_graph_load_order_respects_fk():
    levels = RP.graph_load_order()
    seen: set[str] = set()
    for level in levels:
        for tbl in level:
            assert RP.GRAPH_FK_DEPENDENCIES[tbl] <= seen, tbl
        seen |= set(level)
    assert seen == set(RP.GRAPH_FK_DEPENDENCIES)


def test_full_vs_incremental_convergence(spark):
    """Re-syncing a subject-complete slice of the view graph through
    the FK-ordered upsert fold converges to the full-sync documents."""
    sf = "/root/testdata/sf0.001"
    triples = RP.all_view_triples(spark, sf).persist()
    full_tables = RP.pivot_view_tables(triples)
    full = (
        RP.build_reference_index_documents(full_tables, RP.SYNTHETIC_STORE_ADAPTER)
        .toPandas()
        .sort_values("iri")
        .reset_index(drop=True)
    )
    # batch 2 re-emits ~1/3 of subjects (the reference's since-window
    # re-emission); upserting it over the full state must be a no-op.
    resync = triples.filter(F.pmod(F.xxhash64("subject"), F.lit(3)) == 0)
    resync_tables = RP.pivot_view_tables(resync)
    merged: dict[str, object] = {}
    for level in RP.graph_load_order():
        for name in level:
            merged[name] = M.upsert(
                full_tables[name], resync_tables[name], keys=["subject"]
            )
    inc = (
        RP.build_reference_index_documents(merged, RP.SYNTHETIC_STORE_ADAPTER)
        .toPandas()
        .sort_values("iri")
        .reset_index(drop=True)
    )
    assert len(full) == len(inc) and len(full) > 0
    for c in full.columns:
        assert full[c].astype(str).tolist() == inc[c].astype(str).tolist(), c
    triples.unpersist()


def test_reference_pipeline_flow_store_backed(spark, tmp_path):
    """The durable form of the composed cycle: full sync into an empty
    store, then a since-window re-sync of 1/3 of the subjects over the
    SAME store — both snapshots' index documents equal the storeless
    composition (one atomic commit carries the graph.* tables and the
    derived graph.index_documents together)."""
    sf = "/root/testdata/sf0.001"
    store = str(tmp_path / "store")
    triples = RP.all_view_triples(spark, sf).persist()

    direct = (
        RP.build_reference_index_documents(
            RP.pivot_view_tables(triples), RP.SYNTHETIC_STORE_ADAPTER
        )
        .toPandas()
        .sort_values("iri")
        .reset_index(drop=True)
    )
    full = (
        RP.reference_pipeline_flow(spark, sf, store, triples=triples)
        .toPandas()
        .sort_values("iri")
        .reset_index(drop=True)
    )
    resync = triples.filter(F.pmod(F.xxhash64("subject"), F.lit(3)) == 0)
    inc = (
        RP.reference_pipeline_flow(spark, sf, store, triples=resync)
        .toPandas()
        .sort_values("iri")
        .reset_index(drop=True)
    )
    assert len(direct) == len(full) == len(inc) and len(direct) > 0
    for c in direct.columns:
        want = direct[c].astype(str).tolist()
        assert full[c].astype(str).tolist() == want, c
        assert inc[c].astype(str).tolist() == want, c
    triples.unpersist()


def _view_triples(spark, rows_by_table):
    """View-graph triples that pivot back into ``rows_by_table``."""
    data = []
    for tbl, rows in rows_by_table.items():
        for r in rows:
            data.append((r["subject"], RP._NS + "tableName", tbl))
            data += [
                (r["subject"], RP._NS + c, v)
                for c, v in r.items()
                if c != "subject" and v is not None
            ]
    return spark.createDataFrame(
        data, "subject string, predicate string, object string"
    )


def _night_rows():
    """Two nights of view rows: night 1 fills five tables, night 2
    re-emits two of them (a renamed entity, a new entity, a new
    keyword) and fills one night 1 did not emit (a genre)."""
    org = "https://x/org/"
    night1 = {
        "graph.organization": [
            dict(subject="o1", id="o1", org_identifier="OR-1",
                 skos_pref_label="Archief", org_classification="ContentPartner"),
            dict(subject="o2", id="o2", org_identifier="OR-2",
                 skos_pref_label="Stad", org_classification="ContentPartner"),
        ],
        "graph.intellectual_entity": [
            dict(subject=E + str(i), id=E + str(i), schema_identifier=f"e{i}",
                 schema_name=f"naam {i}", schema_maintainer=org + f"OR-{i % 2 + 1}")
            for i in range(1, 4)
        ],
        "graph.dcterms_format": [
            dict(subject=f"f{i}", intellectual_entity_id=E + str(i),
                 dcterms_format="video")
            for i in range(1, 5)
        ],
        "graph.schema_keywords": [
            dict(subject="k1", intellectual_entity_id=E + "1", schema_keywords="krant"),
            dict(subject="k2", intellectual_entity_id=E + "2", schema_keywords="film"),
        ],
        "graph.schema_license": [
            dict(subject="l1", intellectual_entity_id=E + "1",
                 schema_license="Publiek-Domein"),
        ],
    }
    night2 = {
        "graph.intellectual_entity": [
            dict(subject=E + "2", id=E + "2", schema_identifier="e2",
                 schema_name="nieuwe naam", schema_maintainer=org + "OR-1"),
            dict(subject=E + "4", id=E + "4", schema_identifier="e4",
                 schema_name="naam 4", schema_maintainer=org + "OR-2"),
        ],
        "graph.schema_keywords": [
            dict(subject="k3", intellectual_entity_id=E + "1", schema_keywords="oorlog"),
        ],
        "graph.schema_genre": [
            dict(subject="g1", intellectual_entity_id=E + "1", schema_genre="drama"),
        ],
    }
    return night1, night2


def _canon(df):
    pdf = df.toPandas().sort_values("iri").reset_index(drop=True)
    return {c: pdf[c].astype(str).tolist() for c in pdf.columns}


def test_store_commit_touches_only_emitted_tables(spark, tmp_path):
    """The durable load without the reference checkout: night 1 pins
    exactly the tables it emitted plus the documents; night 2 emits
    two of the five tables night 1 filled and one it did not. The
    committed documents equal the storeless build over the upserted
    state; every table the night did not emit keeps its pinned version
    and gains no version directory; each re-emitted table gains
    exactly one version, and the newly emitted one lands as pivoted."""
    import glob

    from prefect_flow_arc_kg_postgres_etl_spark.sources import store as S

    store = str(tmp_path / "store")
    rows1, rows2 = _night_rows()
    night1, night2 = _view_triples(spark, rows1), _view_triples(spark, rows2)

    def versions(name):
        return sorted(
            os.path.basename(d)
            for d in glob.glob(os.path.join(store, f"{name}.parquet", "v_*"))
        )

    docs1 = RP.reference_pipeline_flow(spark, "unused", store, triples=night1)
    t1 = RP.pivot_view_tables(night1)
    assert _canon(docs1) == _canon(
        RP.build_reference_index_documents(t1, RP.SYNTHETIC_STORE_ADAPTER)
    )
    m1 = S.read_manifest(S.latest_manifest(store))
    assert set(m1) == {*rows1, RP.INDEX_DOCUMENTS}

    docs2 = RP.reference_pipeline_flow(spark, "unused", store, triples=night2)
    t2 = RP.pivot_view_tables(night2)
    upserted = {
        name: M.upsert(t1[name], t2[name], keys=["subject"]) for name in t1
    }
    want = _canon(
        RP.build_reference_index_documents(upserted, RP.SYNTHETIC_STORE_ADAPTER)
    )
    assert _canon(docs2) == want
    assert len(want["iri"]) == 4 and "nieuwe naam" in want["schema_name"]
    assert "drama" in want["schema_genre"]

    genre = "graph.schema_genre"
    m2 = S.read_manifest(S.latest_manifest(store))
    assert set(m2) == {*m1, genre}
    assert m2[genre] == 1 and versions(genre) == ["v_1"]
    landed = S.read_table_version(
        spark, os.path.join(store, f"{genre}.parquet"), 1
    )
    assert sorted(landed.collect()) == sorted(t2[genre].collect())
    touched = {*rows2, RP.INDEX_DOCUMENTS}
    for name in m1:
        if name in touched:
            assert m2[name] == m1[name] + 1, name
            assert versions(name) == [f"v_{m1[name]}", f"v_{m2[name]}"], name
        else:
            assert m2[name] == m1[name], name
            assert versions(name) == [f"v_{m1[name]}"], name


@pytest.mark.parametrize(
    "rows", [_night_rows()[0], _fixture_rows()], ids=["night1", "fixture"]
)
def test_documents_over_absent_tables_equal_landed_empties(spark, tmp_path, rows):
    """A graph.* table no load has emitted reads as an empty relation
    of its declared schema: the documents built with the empty tables
    absent equal the ones built over all of them landed, the empties
    written as parquet. This covers the inner format join, the left
    joins' nulls and the children count's coalesce to 0; with the
    format table absent the inner join leaves no document."""
    tables = _spark_tables(spark, rows)
    landed = {}
    for name, schema in RP.GRAPH_TABLE_SCHEMAS.items():
        path = str(tmp_path / name)
        tables.get(name, spark.createDataFrame([], schema)).write.parquet(path)
        landed[name] = spark.read.schema(schema).parquet(path)
    present = {name: landed[name] for name, r in rows.items() if r}
    assert len(present) < len(landed)

    def docs(t):
        return RP.build_reference_index_documents(t, RP.SYNTHETIC_STORE_ADAPTER)

    want = _canon(docs(landed))
    assert want["iri"] and "0" in want["children"]
    assert _canon(docs(present)) == want
    del present["graph.dcterms_format"]
    assert docs(present).count() == 0


def test_cold_load_job_budget(spark, tmp_path):
    """A cold load stages only the tables its view emitted and builds
    the documents with the absent ones pruned from the star join at
    plan time. In the 8-core test session this night-1 load (five
    tables) runs 19 Spark jobs; staging all 31 tables and joining 26
    empty parquet tables into the star ran 71."""
    rows1, _ = _night_rows()
    night1 = _view_triples(spark, rows1)
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    before = dag.numTotalJobs()
    RP.reference_pipeline_flow(
        spark, "unused", str(tmp_path / "store"), triples=night1
    )
    jobs = dag.numTotalJobs() - before
    assert jobs <= 30, jobs


def test_sessions_skip_call_site_capture(spark):
    """get_spark turns off PySpark's per-call Python call-site capture
    (a stack walk and about four extra py4j calls per Column method).
    PySpark caches the flag for the whole process at its first Column
    call, so the conf value itself is checked."""
    assert (
        spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    )


def test_merge_extracts_only_the_emitted_tables(spark, tmp_path, monkeypatch):
    """A slice that emits two tables into an empty store extracts two
    frames from the pivot, not one per graph.* table; a caller that
    iterates the table set still gets every table, in FK load order."""
    calls = []
    extract = RP.table_from_wide

    def counted(wide, table, cols):
        calls.append(table)
        return extract(wide, table, cols)

    monkeypatch.setattr(RP, "table_from_wide", counted)
    rows1, _ = _night_rows()
    rows = {n: rows1[n] for n in ("graph.organization", "graph.schema_keywords")}
    view = _view_triples(spark, rows)
    merged, base, pivot = RP._merge_view_slice(
        spark, str(tmp_path / "store"), view
    )
    pivot.unpersist()
    assert base is None
    assert sorted(calls) == sorted(merged) == sorted(rows)

    calls.clear()
    tables = RP.pivot_view_tables(view)
    assert list(tables) == [
        n for level in RP.graph_load_order() for n in level
    ]
    assert calls == []
    assert len(dict(tables)) == len(calls) == len(RP.GRAPH_TABLE_COLUMNS)
    tables.wide.unpersist()


def test_flows_release_the_pivot(spark, tmp_path, monkeypatch):
    """The load's persisted pivot is released once its commit returns:
    after a reference_pipeline_flow and a main_reference_flow load the
    session's cache manager holds no entry for either pivot and no new
    cached RDD."""
    from pyspark import StorageLevel

    pivots = []
    pivot_wide = RP.pivot_wide

    def recorded(triples):
        pivots.append(pivot_wide(triples))
        return pivots[-1]

    monkeypatch.setattr(RP, "pivot_wide", recorded)
    rows1, _ = _night_rows()
    view = _view_triples(spark, rows1)
    sc = spark.sparkContext._jsc.sc()
    before = sc.getPersistentRDDs().size()
    RP.reference_pipeline_flow(spark, "unused", str(tmp_path / "a"), triples=view)
    RP.main_reference_flow(
        spark, "unused", str(tmp_path / "b"),
        active={"index": False, "delete": False}, triples=view,
    )
    assert len(pivots) == 2
    assert all(p.storageLevel == StorageLevel.NONE for p in pivots)
    assert sc.getPersistentRDDs().size() == before


def test_delete_flow_over_absent_tables(spark, tmp_path):
    """The durable delete cycle over a store that holds only the
    tables its loads emitted. With fragments flagged on a top-level
    entity and on a child, the committed documents equal the storeless
    post-cascade build; only the entity and fragment tables and the
    documents gain a version; no table absent before the run enters
    the manifest. A store with no fragment table at all deletes
    nothing and keeps its documents."""
    from prefect_flow_arc_kg_postgres_etl_spark.sources import store as S

    rows1, _ = _night_rows()
    rows = {
        **rows1,
        "graph.intellectual_entity": [
            *rows1["graph.intellectual_entity"],
            dict(subject=E + "1c", id=E + "1c", schema_identifier="e1c",
                 schema_name="deel", schema_maintainer="https://x/org/OR-2",
                 relation_is_part_of=E + "1"),
        ],
        "graph.dcterms_format": [
            *rows1["graph.dcterms_format"],
            dict(subject="f5", intellectual_entity_id=E + "1c",
                 dcterms_format="videofragment"),
        ],
        "graph.mh_fragment_identifier": [
            dict(subject="m1", intellectual_entity_id=E + "3",
                 mh_fragment_identifier="frag3", is_deleted="true"),
            dict(subject="m2", intellectual_entity_id=E + "1c",
                 mh_fragment_identifier="frag1c", is_deleted="true"),
            dict(subject="m3", intellectual_entity_id=E + "2",
                 mh_fragment_identifier="frag2", is_deleted="false"),
        ],
    }
    view = _view_triples(spark, rows)
    store = str(tmp_path / "store")
    loaded = _canon(RP.reference_pipeline_flow(spark, "unused", store, triples=view))
    m1 = S.read_manifest(S.latest_manifest(store))
    assert set(m1) == {*rows, RP.INDEX_DOCUMENTS}

    got = _canon(RP.reference_delete_flow(spark, "unused", store))
    want = _canon(
        RP.build_reference_index_documents(
            RP._live_tables(RP.pivot_view_tables(view)),
            RP.SYNTHETIC_STORE_ADAPTER,
        )
    )
    assert got == want
    assert E + "3" in loaded["iri"] and E + "3" not in want["iri"]
    e1 = want["iri"].index(E + "1")
    assert loaded["children"][loaded["iri"].index(E + "1")] == "1"
    assert want["children"][e1] == "0"

    m2 = S.read_manifest(S.latest_manifest(store))
    assert set(m2) == set(m1)
    rewritten = {
        "graph.intellectual_entity",
        "graph.mh_fragment_identifier",
        RP.INDEX_DOCUMENTS,
    }
    for name in m1:
        assert m2[name] == m1[name] + (name in rewritten), name

    plain = str(tmp_path / "plain")
    before = _canon(
        RP.reference_pipeline_flow(
            spark, "unused", plain, triples=_view_triples(spark, rows1)
        )
    )
    p1 = S.read_manifest(S.latest_manifest(plain))
    assert "graph.mh_fragment_identifier" not in p1
    assert _canon(RP.reference_delete_flow(spark, "unused", plain)) == before
    assert set(S.read_manifest(S.latest_manifest(plain))) == set(p1)


def test_docs_frame_survives_a_reland(spark, tmp_path, monkeypatch):
    """A documents frame returned before the store changed still reads
    after a re-land: the superseded spill is left to the exit sweep."""
    rows1, _ = _night_rows()
    triples = _view_triples(spark, rows1)
    monkeypatch.setattr(RP, "all_view_triples", lambda spark, sf: triples)
    sf = tmp_path / "sf"
    sf.mkdir()
    (sf / "quads").write_bytes(b"night 1")
    before = RP.flow_reference_pipeline(spark, str(sf))
    n = before.count()
    (sf / "quads").write_bytes(b"night 2, more bytes")
    after = RP.flow_reference_pipeline(spark, str(sf))
    assert after is not before  # the changed store re-landed
    assert before.count() == n == after.count() > 0


def _cycle_rows():
    """View rows with every arm of the incremental and delete steps
    live. A document's id is its schema_identifier: a last character
    whose code is divisible by 3 puts it in the since window, and an
    even code in the second-last character marks a windowed entity as
    new since the last sync. or-1 is the lowest index, so it is the
    partition whose organisation label drifted. b4 is a top-level
    entity flagged deleted; b5 is a child of b3, flagged deleted."""
    org = "https://x/org/"
    ents = [
        ("a1", "a10", "OR-1"),  # drift partition, in window
        ("a2", "a11", "OR-1"),  # drift partition, outside it
        ("b1", "b20", "OR-2"),  # in window, new since the last sync
        ("b2", "b13", "OR-2"),  # in window, changed since the last sync
        ("b3", "b21", "OR-2"),  # outside the window
        ("b4", "b22", "OR-2"),  # outside the window, deleted
        ("c1", "c11", "OR-3"),  # a partition with nothing in the window
        ("c2", "c12", "OR-3"),
    ]
    ie = [
        dict(subject=E + s, id=E + s, schema_identifier=i,
             schema_name=f"naam {i}", schema_maintainer=org + o)
        for s, i, o in ents
    ]
    ie.append(
        dict(subject=E + "b5", id=E + "b5", schema_identifier="b5c",
             schema_name="deel", schema_maintainer=org + "OR-2",
             relation_is_part_of=E + "b3")
    )
    return {
        "graph.organization": [
            dict(subject=f"o{n}", id=f"o{n}", org_identifier=f"OR-{n}",
                 skos_pref_label=label, org_classification="ContentPartner")
            for n, label in ((1, "Archief"), (2, "Stad"), (3, "Omroep"))
        ],
        "graph.intellectual_entity": ie,
        "graph.dcterms_format": [
            dict(subject="f" + r["subject"][len(E):],
                 intellectual_entity_id=r["subject"],
                 dcterms_format="videofragment"
                 if r.get("relation_is_part_of") else "video")
            for r in ie
        ],
        "graph.schema_keywords": [
            dict(subject="k1", intellectual_entity_id=E + "b3", schema_keywords="film"),
        ],
        "graph.mh_fragment_identifier": [
            dict(subject="m1", intellectual_entity_id=E + "b4",
                 mh_fragment_identifier="frag4", is_deleted="true"),
            dict(subject="m2", intellectual_entity_id=E + "b5",
                 mh_fragment_identifier="frag5", is_deleted="true"),
            dict(subject="m3", intellectual_entity_id=E + "b2",
                 mh_fragment_identifier="frag2", is_deleted="false"),
        ],
    }


def _patched_view(spark, tmp_path, monkeypatch, rows):
    """An sf dir whose view graph is ``rows``: ``all_view_triples`` is
    patched, and the dir holds one file so the caches keyed by its
    fingerprint are this test's own."""
    triples = _view_triples(spark, rows)
    monkeypatch.setattr(RP, "all_view_triples", lambda spark, sf: triples)
    sf = tmp_path / "sf"
    sf.mkdir()
    (sf / "quads").write_bytes(b"view")
    return str(sf)


def test_incremental_registry_and_store_flows_agree(spark, tmp_path, monkeypatch):
    """A77 without the reference checkout. The registry entry rebuilds
    the drift partition and the windowed rows and passes the rest
    through; the durable incremental run over a store seeded with the
    same previous documents commits the same documents, and both equal
    the full build."""
    sf = _patched_view(spark, tmp_path, monkeypatch, _cycle_rows())
    docs = RP.flow_reference_pipeline(spark, sf)
    full = _canon(docs)
    out = RP.flow_reference_incremental(spark, sf)
    assert out.columns == [*docs.columns, "doc_source"]
    source = {r["id"]: r["doc_source"] for r in out.collect()}
    assert source == {
        "a10": "rebuilt", "a11": "rebuilt", "b20": "rebuilt",
        "b13": "rebuilt", "b21": "passthrough", "b22": "passthrough",
        "c11": "passthrough", "c12": "passthrough",
    }
    assert _canon(out.drop("doc_source")) == full
    assert _canon(RP.flow_reference_incremental_store(spark, sf)) == full


def test_delete_registry_and_store_flows_agree(spark, tmp_path, monkeypatch):
    """A78 without the reference checkout: the registry entry, the
    durable delete run over a loaded store and the registered store
    entry commit the same documents, equal to the full build over the
    surviving tables. The deleted top-level entity's document is gone
    and the parent of the deleted child is rebuilt with one child
    fewer."""
    rows = _cycle_rows()
    sf = _patched_view(spark, tmp_path, monkeypatch, rows)
    before = _canon(RP.flow_reference_pipeline(spark, sf))
    tables = RP.pivot_view_tables(_view_triples(spark, rows))
    want = _canon(
        RP.build_reference_index_documents(
            RP._live_tables(tables), RP.SYNTHETIC_STORE_ADAPTER
        )
    )
    tables.wide.unpersist()
    assert E + "b4" in before["iri"] and E + "b4" not in want["iri"]
    b3 = E + "b3"
    assert before["children"][before["iri"].index(b3)] == "1"
    assert want["children"][want["iri"].index(b3)] == "0"

    assert _canon(RP.flow_reference_deletes(spark, sf)) == want
    store = str(tmp_path / "store")
    RP.reference_pipeline_flow(spark, sf, store)
    assert _canon(RP.reference_delete_flow(spark, sf, store)) == want
    assert _canon(RP.flow_reference_deletes_store(spark, sf)) == want


def test_delete_run_after_an_index_run_deletes(spark, tmp_path, monkeypatch):
    """An incremental index run commits the documents with every table
    the store held carried forward, so a delete run after it still
    sees the flagged fragments and removes their entity's document."""
    from prefect_flow_arc_kg_postgres_etl_spark.sources import store as S

    rows = _cycle_rows()
    sf = _patched_view(spark, tmp_path, monkeypatch, rows)
    store = str(tmp_path / "store")
    loaded = _canon(RP.reference_pipeline_flow(spark, sf, store))
    assert _canon(RP.reference_incremental_flow(spark, sf, store)) == loaded
    got = _canon(RP.reference_delete_flow(spark, sf, store))
    assert E + "b4" in loaded["iri"] and E + "b4" not in got["iri"]
    assert set(S.read_manifest(S.latest_manifest(store))) == {
        *rows, RP.INDEX_DOCUMENTS
    }


def test_index_only_run_after_an_index_run_keeps_documents(
    spark, tmp_path, monkeypatch
):
    """An index-only main run after an incremental index run rebuilds
    the documents over the tables the load committed, not over an
    empty table set."""
    sf = _patched_view(spark, tmp_path, monkeypatch, _cycle_rows())
    store = str(tmp_path / "store")
    loaded = _canon(RP.reference_pipeline_flow(spark, sf, store))
    RP.reference_incremental_flow(spark, sf, store)
    out = RP.main_reference_flow(
        spark, sf, store, active={"load": False, "delete": False}
    )
    assert len(loaded["iri"]) == 8
    assert _canon(out["documents"]) == loaded


def test_failed_landing_leaves_no_spill_dir(tmp_path):
    """A view-graph landing that raises leaves nothing under the spill
    root once the interpreter has exited: the dir is registered for
    the exit sweep when it is created, not after the landing."""
    import subprocess
    import textwrap

    root = tmp_path / "spills"
    sf = tmp_path / "sf"
    sf.mkdir()
    script = textwrap.dedent(f"""
        import types
        from prefect_flow_arc_kg_postgres_etl_spark.plans import kg
        from prefect_flow_arc_kg_postgres_etl_spark.plans import reference_pipeline as RP

        def fail(spark, sf_dir):
            raise RuntimeError("landing failed")

        kg.kg_construct_real_query = fail
        spark = types.SimpleNamespace(
            sparkContext=types.SimpleNamespace(applicationId="app-1")
        )
        try:
            RP.all_view_triples(spark, {str(sf)!r})
        except RuntimeError:
            pass
        else:
            raise SystemExit("the landing did not raise")
    """)
    env = {**os.environ, "SPARK_GRAFT_SPILL_DIR": str(root)}
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    done = subprocess.run(
        [sys.executable, "-c", script], cwd=repo, env=env,
        capture_output=True, text=True, timeout=120,
    )
    assert done.returncode == 0, done.stderr
    assert root.is_dir() and os.listdir(root) == []


def test_store_fingerprint_reads_file_uris(tmp_path):
    """A file: URI fingerprints like the plain path it names, so the
    view and document caches notice a change under either spelling."""
    (tmp_path / "a.parquet").write_bytes(b"x" * 10)
    plain = RP._store_fingerprint(str(tmp_path))
    assert plain[0] == 10
    assert RP._store_fingerprint(f"file://{tmp_path}") == plain
    assert RP._store_fingerprint(f"file:{tmp_path}") == plain
    (tmp_path / "b.parquet").write_bytes(b"y" * 5)
    assert RP._store_fingerprint(f"file:{tmp_path}") != plain
    assert RP._store_fingerprint(f"file://{tmp_path}")[0] == 15


def test_index_documents_ndjson_payload(spark):
    """The ES feed variant: one JSON document per (id, index) routing
    pair, payload parseable, null fields omitted (ES treats absent and
    null alike; to_json drops nulls)."""
    import json

    sf = "/root/testdata/sf0.001"
    rows = RP.index_documents_ndjson(spark, sf).collect()
    docs = RP.flow_reference_pipeline(spark, sf)
    assert len(rows) == docs.count() > 0
    seen = set()
    for r in rows:
        # Row.index is a method; subscript for the column
        assert r["id"] and r["index"] == r["index"].lower()
        seen.add((r["id"], r["index"]))
        payload = json.loads(r.document)
        assert payload["iri"].startswith("https://")
        assert "id" not in payload and "index" not in payload
        assert all(v is not None for v in payload.values())
    assert len(seen) == len(rows)


def test_flow_reference_incremental_semantics(spark):
    """A77: the nightly incremental cycle (reference
    arc_db_load_index_tables_flow.py:236-266). Pins: (1) the end state
    equals the full sync exactly — the since-windowed upsert replaced
    every stale document and inserted every new one; (2) no stale
    content or pre-rename maintainer label survives; (3) the org-name-
    drift partition is rebuilt wholesale (truncate + full rebuild);
    (4) rows outside the window in untouched partitions pass through
    from the previous sync, not from a rebuild."""
    sf = "/root/testdata/sf0.001"
    out = RP.flow_reference_incremental(spark, sf).toPandas()
    full = RP.flow_reference_pipeline(spark, sf).toPandas()
    assert len(out) == len(full) > 0

    # (1) end state == full sync (set equality over every column).
    key = sorted(full.columns)
    canon = lambda df: sorted(  # noqa: E731
        df[key].astype(str).itertuples(index=False, name=None)
    )
    assert canon(out) == canon(full)

    # (2) no stale markers or pre-rename labels leak into the result.
    assert not out["schema_name"].astype(str).str.startswith("stale:").any()
    assert (
        not out["schema_maintainer_name"].astype(str).str.startswith("old:").any()
    )

    # (3) the drift partition (min index) rebuilds every row.
    drift = out["index"].min()
    assert (out.loc[out["index"] == drift, "doc_source"] == "rebuilt").all()

    # (4) both arms are live, and outside the drift partition the
    # windowed rows rebuild while the rest pass through.
    rest = out[out["index"] != drift]
    in_window = rest["id"].map(
        lambda s: s is not None and ord(s[-1]) % 3 == 0
    )
    assert set(out["doc_source"]) == {"rebuilt", "passthrough"}
    assert (rest.loc[in_window, "doc_source"] == "rebuilt").all()
    assert (rest.loc[~in_window, "doc_source"] == "passthrough").all()


def test_flow_reference_deletes_cascade(spark):
    """A78: the composed delete cycle (arc_db_delete_flow.py:34-122).
    Pins the cascade against a hand-derived surviving set and the
    convergence property: delete-then-rebuild == fresh build over the
    surviving tables (same code path, so additionally pin absolute
    effects: flagged entities gone, a parent's children count shrinks
    when its child is deleted, is_deleted='true' never survives)."""
    sf = "/root/testdata/sf0.001"
    triples = RP.all_view_triples(spark, sf).persist()
    tables = RP.pivot_view_tables(triples)
    full = RP.build_reference_index_documents(
        tables, RP.SYNTHETIC_STORE_ADAPTER
    ).toPandas()
    out = RP.build_reference_index_documents(
        RP._live_tables(tables), RP.SYNTHETIC_STORE_ADAPTER
    ).toPandas()

    mf = tables["graph.mh_fragment_identifier"].toPandas()
    deleted_ids = set(
        mf.loc[mf["is_deleted"] == "true", "intellectual_entity_id"]
    )
    assert deleted_ids, "corpus has no flagged fragments; test is vacuous"

    # Flagged top-level entities are gone, everything else survives.
    expect_gone = set(full.loc[full["iri"].isin(deleted_ids), "iri"])
    assert expect_gone
    assert set(full["iri"]) - set(out["iri"]) == expect_gone

    # No surviving document still claims is_deleted='true' (the fragment
    # table was purged; survivors keep only live fragments).
    assert not (out["is_deleted"] == "true").any()

    # Deleted CHILD entities shrink their parent's children count —
    # the reason the documents must be rebuilt, not filtered.
    ie = tables["graph.intellectual_entity"].toPandas()
    child_parents = set(
        ie.loc[
            ie["subject"].isin(deleted_ids)
            & ie["relation_is_part_of"].notna(),
            "relation_is_part_of",
        ]
    )
    survivors = full.loc[full["iri"].isin(child_parents & set(out["iri"]))]
    if len(survivors):
        before = survivors.set_index("iri")["children"]
        after = out.set_index("iri")["children"]
        assert all(after[i] <= before[i] for i in before.index)
    triples.unpersist()


def test_delete_scope_rebuilds_parent_of_deleted_child(spark):
    """r10: the worklist-scoped delete rebuild. A deleted CHILD puts
    its SURVIVING parent (and only it) in the rebuild set; the scoped
    star join over the semi-joined table slice yields exactly the
    parent's post-delete document (shrunken roll-ups), and rebuilt ∪
    passthrough equals the full post-delete rebuild — the invariant
    the registry oracle checks at corpus scale, pinned here on the
    one shape the synthetic corpus lacks (it flags no children)."""
    import pandas as pd

    rows = _fixture_rows()
    for r in rows["graph.mh_fragment_identifier"]:
        r["is_deleted"] = "false"
    rows["graph.mh_fragment_identifier"].append(
        dict(
            subject="mf4",
            intellectual_entity_id=E + "1c1",
            is_deleted="true",
            mh_fragment_identifier="F4",
        )
    )
    t = _spark_tables(spark, rows)
    tops, removed = RP._delete_scope(t)
    assert {r.subject for r in tops.collect()} == {E + "1"}
    assert {r.subject for r in removed.collect()} == {E + "1", E + "1c1"}

    live = RP._live_tables(t)
    scoped = RP._scope_tables_to_tops(live, tops)
    rebuilt = RP.build_reference_index_documents(
        scoped, RP.SYNTHETIC_STORE_ADAPTER
    ).toPandas()
    full = RP.build_reference_index_documents(
        live, RP.SYNTHETIC_STORE_ADAPTER
    ).toPandas()
    key = sorted(full.columns)
    canon = lambda df: sorted(  # noqa: E731
        df[key].astype(str).itertuples(index=False, name=None)
    )
    assert set(rebuilt["iri"]) == {E + "1"}
    assert canon(rebuilt) == canon(full[full["iri"] == E + "1"])

    # the parent's children roll-up shrank: E1c1 was its only
    # fragment-format child (E1c2's 'audio' never counted)
    pre = RP.build_reference_index_documents(
        t, RP.SYNTHETIC_STORE_ADAPTER
    ).toPandas()
    assert int(rebuilt["children"].iloc[0]) == 0
    assert int(pre.loc[pre["iri"] == E + "1", "children"].iloc[0]) == 1

    # rebuilt ∪ (standing docs minus removed) == full post-delete build
    passthrough = pre[~pre["iri"].isin({E + "1", E + "1c1"})]
    assert canon(pd.concat([rebuilt, passthrough])) == canon(full)


def test_reference_delete_report_ledger(spark):
    """A78b: the delete flow's partition ledger is self-consistent and
    agrees with the document builds on both sides of the cascade."""
    sf = "/root/testdata/sf0.001"
    rep = RP.reference_delete_report(spark, sf).toPandas().set_index("index")
    full = RP.flow_reference_pipeline(spark, sf).toPandas()
    after = RP.flow_reference_deletes(spark, sf).toPandas()

    assert (
        rep["docs_before"] - rep["entities_deleted"] == rep["docs_after"]
    ).all()
    assert (rep["dropped"] == (rep["docs_after"] == 0)).all()
    assert rep["docs_before"].sum() == len(full)
    assert rep["docs_after"].sum() == len(after)
    before_counts = full.groupby("index").size()
    after_counts = after.groupby("index").size()
    for idx, row in rep.iterrows():
        assert row["docs_before"] == before_counts.get(idx, 0), idx
        assert row["docs_after"] == after_counts.get(idx, 0), idx


def test_production_adapter_is_default(spark):
    """r9: the adapter constants live in one place with the PRODUCTION
    values as defaults (update_partition.sql:242-243's 'Geluidsspoel'/
    'Beeldspoel') — a store carrying the production carrier types sets
    the audio flag under the DEFAULT adapter, and the synthetic-store
    values are an explicit override, not baked into the build."""
    rows = _fixture_rows()
    # swap the synthetic carrier types for the production ones
    for c in rows["graph.carrier"]:
        if c.get("type") == "Geluidsband":
            c["type"] = "Geluidsspoel"
        elif c.get("type") == "Beeldband":
            c["type"] = "Beeldspoel"
    t = _spark_tables(spark, rows)
    default = RP.build_reference_index_documents(t).toPandas().set_index("iri")
    synth = (
        RP.build_reference_index_documents(t, RP.SYNTHETIC_STORE_ADAPTER)
        .toPandas()
        .set_index("iri")
    )
    # production store + default adapter: audio arms live
    assert set(default["audio"].dropna()) == {"true", "false"}
    # production store + synthetic adapter: audio arms dead
    assert synth["audio"].isna().all()
    # everything EXCEPT the audio flag is adapter-independent
    for col in default.columns:
        if col == "audio":
            continue
        assert default[col].astype(str).tolist() == synth[col].astype(
            str
        ).tolist(), col


def test_per_org_fanout_composes_to_scoped_documents(spark):
    """r9: the worklist-driven per-OR fan-out (1_kg_view_construct.ts:
    47-63 — every query once per OR id with ?maintainer_id bound).
    For a bounded org set, composing the scoped runs through the same
    pivot + document build yields EXACTLY the full pipeline's documents
    for those organisations' index partitions — the completeness pin
    the reference's OR_IDS mode relies on (a triple the scoped runs
    miss surfaces as a missing/short document here)."""
    sf = "/root/testdata/sf0.001"
    or_ids = ["OR-1", "OR-3"]
    triples = RP.all_view_triples_scoped(spark, sf, or_ids)
    docs = (
        RP.build_reference_index_documents(
            RP.pivot_view_tables(triples), RP.SYNTHETIC_STORE_ADAPTER
        )
        .toPandas()
    )
    full = RP.flow_reference_pipeline(spark, sf).toPandas()
    want = full[full["index"].isin([o.lower() for o in or_ids])]
    assert len(want) > 0
    key = sorted(full.columns)
    canon = lambda df: sorted(  # noqa: E731
        df[key].astype(str).itertuples(index=False, name=None)
    )
    assert canon(docs[docs["index"].isin([o.lower() for o in or_ids])]) == canon(
        want
    )
    # the scoped stream contains nothing for entities it cannot
    # attribute to the bounded set beyond shared/global nodes: every
    # produced document belongs to the requested partitions
    assert set(docs["index"]) <= {o.lower() for o in or_ids}


def test_store_fingerprint_tracks_changes(tmp_path):
    """The spill/docs cache key includes a store fingerprint so a
    CHANGED store under the same path re-lands instead of serving
    stale results (r9 ADVICE): fingerprint moves on size or mtime."""
    import os
    import time

    f = tmp_path / "t.parquet"
    f.write_bytes(b"abc")
    fp1 = RP._store_fingerprint(str(tmp_path))
    f.write_bytes(b"abcd")
    fp2 = RP._store_fingerprint(str(tmp_path))
    assert fp1 != fp2
    now = time.time() + 10
    os.utime(f, (now, now))
    fp3 = RP._store_fingerprint(str(tmp_path))
    assert fp3 != fp2


def test_reference_incremental_flow_store_backed(spark, tmp_path):
    """r9: the DURABLE nightly incremental — the previous state is the
    store's committed graph.index_documents (not a synthesized frame):
    seed the store with a perturbed previous sync (stale content on
    windowed entities, inserted-since entities absent, one org
    pre-rename), run the flow, and the committed end state equals the
    full sync exactly; the snapshot history keeps the previous state
    readable (time travel)."""
    from prefect_flow_arc_kg_postgres_etl_spark.sources import store as S

    sf = "/root/testdata/sf0.001"
    store = str(tmp_path / "store")
    docs, prev = RP._incremental_frames(spark, sf)
    seeded = S.commit_tables(
        store, {"graph.index_documents": prev.select(*docs.columns)}
    )
    out = (
        RP.reference_incremental_flow(spark, sf, store)
        .toPandas()
    )
    full = docs.toPandas()
    key = sorted(full.columns)
    canon = lambda df: sorted(  # noqa: E731
        df[key].astype(str).itertuples(index=False, name=None)
    )
    assert canon(out) == canon(full) and len(out) > 0
    # the pre-update snapshot is still readable at its manifest
    old = S.read_snapshot(spark, store, seeded)["graph.index_documents"]
    assert old.count() == prev.count()


def test_reference_incremental_flow_keeps_absent_partitions(spark, tmp_path):
    """r10 ADVICE: a partition present in the store's previous snapshot
    but ABSENT from the current build is outside the worklist — the
    reference's per-partition loop never visits it, so the nightly
    incremental must pass its standing documents through UNTOUCHED
    (only the delete flow drops partitions), not silently delete them
    via an inner flag join."""
    from prefect_flow_arc_kg_postgres_etl_spark.sources import store as S

    sf = "/root/testdata/sf0.001"
    store = str(tmp_path / "store")
    docs, prev = RP._incremental_frames(spark, sf)
    ghost = (
        prev.select(*docs.columns)
        .limit(5)
        .withColumn("index", F.lit("zz_retired_org"))
    )
    S.commit_tables(
        store,
        {
            "graph.index_documents": prev.select(*docs.columns).unionByName(
                ghost
            )
        },
    )
    out = RP.reference_incremental_flow(spark, sf, store).toPandas()
    full = docs.toPandas()
    ghost_pd = ghost.toPandas()
    key = sorted(full.columns)
    canon = lambda df: sorted(  # noqa: E731
        df[key].astype(str).itertuples(index=False, name=None)
    )
    import pandas as pd

    assert canon(out) == canon(pd.concat([full, ghost_pd]))
    # and byte-identical passthrough of the retired partition
    got_ghost = out[out["index"] == "zz_retired_org"]
    assert canon(got_ghost) == canon(ghost_pd) and len(got_ghost) == 5


def test_reference_delete_flow_store_backed(spark, tmp_path):
    """r9: the DURABLE delete cycle — one committed snapshot carries
    the post-cascade entity/fragment tables and the rebuilt documents;
    the committed documents equal the storeless A78 build, the
    committed entity table no longer contains flagged entities, and
    delete-then-rebuild converges with a fresh build over the
    surviving tables."""
    from prefect_flow_arc_kg_postgres_etl_spark.sources import store as S

    sf = "/root/testdata/sf0.001"
    store = str(tmp_path / "store")
    triples = RP.all_view_triples(spark, sf).persist()
    tables = RP.pivot_view_tables(triples)
    docs_full = RP.build_reference_index_documents(
        tables, RP.SYNTHETIC_STORE_ADAPTER
    )
    S.commit_tables(store, {**tables, "graph.index_documents": docs_full})

    out = RP.reference_delete_flow(spark, sf, store).toPandas()
    want = RP.flow_reference_deletes(spark, sf).toPandas()
    key = sorted(want.columns)
    canon = lambda df: sorted(  # noqa: E731
        df[key].astype(str).itertuples(index=False, name=None)
    )
    assert canon(out) == canon(want) and len(out) > 0

    # committed entity table: flagged entities gone, fragments purged
    man = S.latest_manifest(store)
    snap = S.read_snapshot(spark, store, man)
    mf = snap["graph.mh_fragment_identifier"].toPandas()
    assert not (mf["is_deleted"] == "true").any()
    ie_ids = set(snap["graph.intellectual_entity"].toPandas()["subject"])
    before_mf = tables["graph.mh_fragment_identifier"].toPandas()
    flagged = set(
        before_mf.loc[before_mf["is_deleted"] == "true", "intellectual_entity_id"]
    )
    assert flagged and not (flagged & ie_ids)
    triples.unpersist()


def test_main_flow_active_gating(spark, tmp_path):
    """main_flow.py's per-stage active toggles over the composed
    durable cycle (r11): (a) an inactive INDEX stage leaves the
    committed documents byte-untouched while the load stage still
    re-commits tables; (b) the delete stage stays ordered after load —
    a single run with all stages active lands documents in which the
    flagged entities are already gone (the cascade saw THIS run's
    load); (c) unknown stage names fail loudly."""
    import pytest as _pytest

    from prefect_flow_arc_kg_postgres_etl_spark.sources import store as S

    sf = "/root/testdata/sf0.001"
    store = str(tmp_path / "store")
    triples = RP.all_view_triples(spark, sf).persist()

    # (c) typo'd stage names must not silently run everything
    with _pytest.raises(ValueError):
        RP.main_reference_flow(spark, sf, store, active={"indxe": False})

    # full run: load + index + delete in one chain over an empty store
    out = RP.main_reference_flow(spark, sf, store, triples=triples)
    assert out["load"] and out["index"] and out["delete"]
    docs1 = out["documents"].toPandas()
    assert len(docs1) > 0
    # (b) ordering: the delete stage ran against THIS run's load —
    # flagged entities are absent from the final committed documents
    want = RP.flow_reference_deletes(spark, sf).toPandas()
    key = sorted(want.columns)
    canon = lambda df: sorted(  # noqa: E731
        df[key].astype(str).itertuples(index=False, name=None)
    )
    assert canon(docs1) == canon(want)

    # (a) inactive index + delete: load re-commits tables, documents
    # pass through from the previous snapshot untouched
    man_before = S.latest_manifest(store)
    out2 = RP.main_reference_flow(
        spark, sf, store, triples=triples,
        active={"index": False, "delete": False},
    )
    assert out2["load"] is not None
    assert out2["index"] is None and out2["delete"] is None
    assert S.latest_manifest(store) != man_before  # load committed
    docs2 = out2["documents"].toPandas()
    assert canon(docs2) == canon(docs1)  # documents untouched

    # index-only run (load skipped): documents rebuild from the
    # store's CURRENT tables. Step (a)'s load re-upserted the FULL
    # source — deleted entities included — so the rebuild equals the
    # full-sync documents, NOT the post-delete set: proof the index
    # stage read the load stage's committed state, not a cached one.
    out3 = RP.main_reference_flow(
        spark, sf, store, active={"load": False, "delete": False}
    )
    assert out3["load"] is None and out3["index"] is not None
    docs3 = out3["documents"].toPandas()
    full_docs = RP.build_reference_index_documents(
        RP.pivot_view_tables(triples), RP.SYNTHETIC_STORE_ADAPTER
    ).toPandas()
    assert canon(docs3) == canon(full_docs)
    assert len(docs3) > len(docs1)  # the flagged entities are back
    triples.unpersist()
