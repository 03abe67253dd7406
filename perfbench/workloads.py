"""The benchmark's workloads. Each one has an untimed ``setup`` (loading
inputs and the warm-up), and two timed phases named after the state
they start from:

- ``empty``: nothing standing -- an empty store;
- ``standing``: the state the ``empty`` phase left -- the store it wrote.

A phase returns the number of operations it attempted and failed; a
failed operation is an exception or an output that differs from the
DuckDB oracle.
"""

from __future__ import annotations

import os
import shutil
import sys
import time
import traceback

import duckdb

from inputs import dir_bytes
from tools.check_oracle import compare
from tracing import plan_shape

# SPARQL text queries a consumer of the KG runs after each sync, over
# the view graph as quads in one named graph. Between them they take
# GRAPH, BIND, GROUP BY with COUNT/COUNT DISTINCT, a ``p+`` closure, an
# inverse sequence path and a negated property set through
# ``operators.sparql``. Each has a DuckDB oracle over the same triples,
# with ``{g}`` standing for the graph's (subject, predicate, object).
VIEW_GRAPH = "https://data.hetarchief.be/graph/view"
_C = "urn:kg-to-postgres:"
SPARQL_MIX = {
    "formats_per_org": (
        f"""PREFIX c: <{_C}>
SELECT ?org ?fmt (COUNT(?ie) AS ?n) WHERE {{
  GRAPH <{VIEW_GRAPH}> {{
    ?f c:tableName "graph.dcterms_format" ;
       c:intellectual_entity_id ?ie ;
       c:dcterms_format ?fmt .
    ?ie c:schema_maintainer ?m .
  }}
  BIND(REPLACE(STR(?m), "^.*/", "") AS ?org)
}} GROUP BY ?org ?fmt""",
        f"""WITH g AS ({{g}})
SELECT regexp_replace(m.object, '^.*/', '') AS org, d.object AS fmt,
       count(*) AS n
FROM g t
JOIN g i ON i.subject = t.subject AND i.predicate = '{_C}intellectual_entity_id'
JOIN g d ON d.subject = t.subject AND d.predicate = '{_C}dcterms_format'
JOIN g m ON m.subject = i.object AND m.predicate = '{_C}schema_maintainer'
WHERE t.predicate = '{_C}tableName' AND t.object = 'graph.dcterms_format'
GROUP BY 1, 2""",
    ),
    "files_per_top": (
        f"""PREFIX c: <{_C}>
SELECT ?top (COUNT(DISTINCT ?file) AS ?files) WHERE {{
  ?page c:relation_is_part_of+ ?top .
  ?rep c:premis_represents ?page .
  ?file ^c:file_id/c:representation_id ?rep .
}} GROUP BY ?top""",
        f"""WITH g AS ({{g}})
SELECT p.object AS top, count(DISTINCT f.object) AS files
FROM g p
JOIN g r ON r.predicate = '{_C}premis_represents' AND r.object = p.subject
JOIN g i ON i.predicate = '{_C}representation_id' AND i.object = r.subject
JOIN g f ON f.subject = i.subject AND f.predicate = '{_C}file_id'
WHERE p.predicate = '{_C}relation_is_part_of'
GROUP BY 1""",
    ),
    "org_attributes": (
        f"""PREFIX c: <{_C}>
SELECT ?s (COUNT(?o) AS ?n) WHERE {{
  ?s c:tableName "graph.organization" .
  ?s !(c:tableName|c:org_identifier) ?o .
}} GROUP BY ?s""",
        f"""WITH g AS ({{g}})
SELECT a.subject AS s, count(*) AS n
FROM g t JOIN g a ON a.subject = t.subject
WHERE t.predicate = '{_C}tableName' AND t.object = 'graph.organization'
  AND a.predicate NOT IN ('{_C}tableName', '{_C}org_identifier')
GROUP BY 1""",
    ),
}


def _log_failure(what: str) -> None:
    print(f"perfbench: {what} failed:", file=sys.stderr)
    traceback.print_exc(file=sys.stderr)


def _version_dirs(store: str) -> dict[str, int]:
    """Every ``<table>/v_N`` version directory under a store, with its
    size in bytes."""
    out = {}
    if not os.path.isdir(store):
        return out
    for table in os.listdir(store):
        tdir = os.path.join(store, table)
        if not os.path.isdir(tdir):
            continue
        for v in os.listdir(tdir):
            if v.startswith("v_"):
                out[os.path.join(table, v)] = dir_bytes(os.path.join(tdir, v))
    return out


class KgSync:
    """PAPER steps 2-5 over a generated view graph. ``empty`` pivots the
    base graph into ``graph.*`` records and commits them in FK order
    into an empty store (the load stage). ``standing`` syncs the
    entity-complete delta over that store: FK-ordered upserts, the index
    documents rebuilt from the merged tables, the delete cascade, the ES
    ``_bulk`` feed of the resulting documents, and then SPARQL_MIX over
    the synced KG."""

    name = "kg_sync"
    phases = ("empty", "standing")

    def __init__(self, spark, tracer, inputs: str, work: str):
        self.spark, self.tracer, self.inputs = spark, tracer, inputs
        self.work = work
        self.iteration = 0

    def _graph_sql(self, phase: str) -> str:
        """The view graph the phase leaves behind: the base graph, or
        the post-delta graph."""
        name = "base" if phase == "empty" else "post"
        return f"SELECT subject, predicate, object FROM '{self.inputs}/{name}.parquet'"

    def _expected_documents(self):
        """The repo's update_partition oracle composed with the delete
        cascade, evaluated by DuckDB over the post-delta graph in place
        of the nine construct queries."""
        from prefect_flow_arc_kg_postgres_etl_spark.plans import reference_pipeline as R

        sql = R.reference_deletes_oracle()
        head, sep, rest = sql.partition("WITH trip AS MATERIALIZED (")
        _, sep2, tail = rest.partition("\n),\nrecs AS MATERIALIZED (")
        if not (sep and sep2):
            raise RuntimeError("reference oracle shape changed")
        con = duckdb.connect()
        try:
            return con.sql(f"{head}{sep}\n  {self._graph_sql('standing')}{sep2}{tail}").df()
        finally:
            con.close()

    def _load_differences(self, manifest: str) -> list[str]:
        """Tables of the committed load whose rows differ from the
        repo's DuckDB pivot oracle over the base graph."""
        import json

        from prefect_flow_arc_kg_postgres_etl_spark.plans import reference_pipeline as R

        with open(manifest) as f:
            versions = json.load(f)
        ns = R._NS
        prefix = f"""WITH trip AS ({self._graph_sql("empty")}),
recs AS (
  SELECT subject, substring(predicate, {len(ns) + 1}) AS c, object FROM trip
  WHERE starts_with(predicate, '{ns}') AND predicate <> '{ns}tableName'),
tn AS (
  SELECT subject, MIN(object) AS tbl FROM trip
  WHERE predicate = '{ns}tableName' GROUP BY subject),
"""
        bad = []
        con = duckdb.connect()
        try:
            for table, cols in R.GRAPH_TABLE_COLUMNS.items():
                got = f"'{self.store}/{table}.parquet/v_{versions[table]}/*.parquet'"
                want = prefix + R._pivot_cte(table, cols) + (
                    f"\nSELECT * FROM p_{table.split('.', 1)[1]}"
                )
                n = con.sql(
                    f"WITH a AS (SELECT * FROM read_parquet({got})), b AS ({want}) "
                    "SELECT count(*) FROM ((FROM a EXCEPT ALL FROM b) "
                    "UNION ALL (FROM b EXCEPT ALL FROM a))"
                ).fetchone()[0]
                if n:
                    bad.append(f"{table}: {n} rows differ")
        finally:
            con.close()
        return bad

    def setup(self) -> None:
        from pyspark.sql import functions as F

        read = self.spark.read.parquet
        self.graphs = {
            "empty": read(f"{self.inputs}/base.parquet"),
            "standing": read(f"{self.inputs}/delta.parquet"),
        }
        # The KG the queries read after the delta sync (see _graph_sql).
        self.quads = read(f"{self.inputs}/post.parquet").select(
            "subject", "predicate", "object",
            F.lit(None).cast("string").alias("lang"),
            F.lit(VIEW_GRAPH).alias("graph"),
        )
        self.expected = None  # computed at the first check, outside setup_s
        # Warm-up: the session's first actions over the inputs. A warm-up
        # cycle over a small graph costs as much as the phases (the work
        # is per table and per plan, not per row) and left their spread
        # as it was, so the phases run as a process's first cycle: what
        # each scheduled flow run pays.
        for df in self.graphs.values():
            df.agg(F.countDistinct("subject")).collect()

    def before_iteration(self) -> None:
        self.store = os.path.join(self.work, f"store-{self.iteration}")
        self.es = os.path.join(self.work, f"es-{self.iteration}")
        for p in (self.store, self.es):
            shutil.rmtree(p, ignore_errors=True)
        self.iteration += 1

    def _query(self, extra: dict) -> tuple[dict, list]:
        """Run SPARQL_MIX over the synced KG with the compiled-plan cache
        cleared, as the first queries after a sync find it. Returns the
        results (None for a query that raised) and the frames, whose plan
        shape is read after the timed phase."""
        from prefect_flow_arc_kg_postgres_etl_spark.operators import sparql as SQ

        tr = self.tracer
        SQ.clear_plan_cache()
        got, frames = {}, []
        for name, (text, _) in SPARQL_MIX.items():
            got[name] = None
            try:
                with tr.span(name, "sparql"):
                    t1 = time.time()
                    with tr.span("build", "sparql") as b:
                        df = SQ.select_query(self.quads, text)
                    t2 = time.time()
                    with tr.span("plan", "sparql"):
                        df._jdf.queryExecution().executedPlan()
                    t3 = time.time()
                    with tr.span("exec", "sparql"):
                        got[name] = df.toPandas()
                    t4 = time.time()
            except Exception:
                _log_failure(f"kg_sync query {name}")
                continue
            extra["sparql.build_s"] += t2 - t1
            extra["sparql.plan_s"] += t3 - t2
            extra["sparql.exec_s"] += t4 - t3
            if b is not None:
                extra["sparql.py4j_calls"] += b.py4j
                frames.append(df)
        return got, frames

    def _query_differences(self, got: dict) -> list[str]:
        con = duckdb.connect()
        try:
            bad = []
            for name, (_, oracle) in SPARQL_MIX.items():
                if got[name] is None:
                    bad.append(f"{name}: raised")
                    continue
                want = con.sql(oracle.format(g=self._graph_sql("standing"))).df()
                bad += [f"{name}: {p}" for p in compare(got[name], want)]
            return bad
        finally:
            con.close()

    def run_phase(self, phase: str) -> tuple[int, int, dict]:
        from pyspark.sql import functions as F

        from prefect_flow_arc_kg_postgres_etl_spark.plans import reference_pipeline as R
        from prefect_flow_arc_kg_postgres_etl_spark.sinks import es_bulk

        before = _version_dirs(self.store)
        extra = {k: 0 for k in ("sparql.build_s", "sparql.plan_s", "sparql.exec_s",
                                "sparql.py4j_calls")}
        attempted = 1 if phase == "empty" else 1 + len(SPARQL_MIX)
        t0 = time.time()
        try:
            if phase == "empty":
                out = R.main_reference_flow(
                    self.spark, self.inputs, self.store,
                    active={"index": False, "delete": False},
                    triples=self.graphs[phase],
                )
            else:
                out = R.main_reference_flow(
                    self.spark, self.inputs, self.store, triples=self.graphs[phase]
                )
                docs = out["documents"]
                feed = docs.select(
                    "id", "index", F.to_json(F.struct(*docs.columns)).alias("document")
                )
                with self.tracer.span("write_bulk_ndjson", "es_bulk"):
                    es_bulk.write_bulk_ndjson(feed, self.es)
                got, frames = self._query(extra)
        except Exception:
            _log_failure(f"kg_sync {phase}")
            return attempted, attempted, {**extra, "wall": time.time() - t0}
        extra["wall"] = time.time() - t0
        after = _version_dirs(self.store)
        new = {k: v for k, v in after.items() if k not in before}
        extra.update({
            "store.bytes_written": sum(new.values()),
            "store.tables_written": len(new),
            "es_bulk.mb": dir_bytes(self.es) / (1 << 20),
        })
        query_problems = []
        try:
            if phase == "empty":
                problems = self._load_differences(out["load"])
            else:
                if self.expected is None:
                    self.expected = self._expected_documents()
                problems = compare(docs.toPandas(), self.expected)
                query_problems = self._query_differences(got)
                for df in frames:
                    for k, v in plan_shape(df).items():
                        extra[f"sparql.{k}"] = extra.get(f"sparql.{k}", 0) + v
        except Exception:
            _log_failure(f"kg_sync {phase} check")
            problems = ["check raised"]
        for what in (problems, query_problems):
            if what:
                print(f"perfbench: kg_sync {phase} output differs: {what}", file=sys.stderr)
        return attempted, int(bool(problems)) + len(query_problems), extra

    def store_bytes(self) -> int:
        return dir_bytes(self.store)

    def install_spans(self, tracer) -> None:
        from prefect_flow_arc_kg_postgres_etl_spark.operators import merge as M
        from prefect_flow_arc_kg_postgres_etl_spark.operators import sparql as SQ
        from prefect_flow_arc_kg_postgres_etl_spark.plans import reference_pipeline as R
        from prefect_flow_arc_kg_postgres_etl_spark.sources import store as S

        tracer.wrap(R, "main_reference_flow", "flows")
        tracer.wrap(R, "pivot_view_tables", "reference_pipeline")
        tracer.wrap(R, "build_reference_index_documents", "reference_pipeline")
        tracer.wrap(R, "reference_delete_flow", "reference_pipeline")
        tracer.wrap(R, "_delete_scope", "reference_pipeline", "delete_scope")
        tracer.wrap(M, "upsert", "merge")
        tracer.wrap(S, "commit_tables", "store")
        tracer.wrap(S, "read_table", "store")
        tracer.wrap(S, "read_snapshot", "store")
        tracer.wrap(SQ, "parse", "sparql")

        def docs_shape(span, df):
            span.info.update(plan_shape(df))

        def worklist(span, scope):
            span.info["rebuilt_entities"] = scope[0].count()

        tracer.on_return["build_reference_index_documents"] = docs_shape
        tracer.on_return["delete_scope"] = worklist


class CorpusIngest:
    """Incremental corpus growth through ``flows.ingest_flow`` over a
    generated corpus with injected exact and near duplicates. ``empty``
    ingests the original documents into an empty corpus store;
    ``standing`` ingests the exact copies and then the near copies as two
    more id-ordered batches, each deduplicated against the corpus
    already landed. Every copy must be dropped: after either phase the
    store holds exactly the originals."""

    name = "corpus_ingest"
    phases = ("empty", "standing")

    def __init__(self, spark, tracer, inputs: str, work: str):
        self.spark, self.tracer, self.inputs = spark, tracer, inputs
        self.work = work
        self.iteration = 0

    def setup(self) -> None:
        from pyspark.sql import functions as F

        from inputs import EXACT_OFF, NEAR_OFF

        docs = self.spark.read.parquet(f"{self.inputs}/documents.parquet")
        docs = docs.select("doc_id", "text")
        cuts = [0, EXACT_OFF, NEAR_OFF, 1 << 62]
        originals, exact, near = (
            docs.filter((F.col("doc_id") >= a) & (F.col("doc_id") < b))
            for a, b in zip(cuts, cuts[1:])
        )
        self.batches = {"empty": [originals], "standing": [exact, near]}
        # Warm-up: the session's first action over the inputs (see KgSync).
        self.originals = {r.doc_id for r in originals.select("doc_id").collect()}

    def before_iteration(self) -> None:
        self.store = os.path.join(self.work, f"corpus-{self.iteration}")
        shutil.rmtree(self.store, ignore_errors=True)
        self.iteration += 1

    def run_phase(self, phase: str) -> tuple[int, int, dict]:
        from prefect_flow_arc_kg_postgres_etl_spark.flows import ingest_flow

        batches = self.batches[phase]
        t0 = time.time()
        try:
            final, _ = ingest_flow(self.spark, self.store, batches, collect_stats=False)
        except Exception:
            _log_failure(f"corpus_ingest {phase}")
            return 1, 1, {"wall": time.time() - t0}
        extra = {"wall": time.time() - t0, "batches": len(batches)}
        try:
            ok = {r.doc_id for r in final.select("doc_id").collect()} == self.originals
        except Exception:
            _log_failure(f"corpus_ingest {phase} check")
            ok = False
        if not ok:
            print(f"perfbench: corpus_ingest {phase} landed other documents "
                  "than the originals", file=sys.stderr)
        return 1, int(not ok), extra

    def store_bytes(self) -> int:
        return dir_bytes(self.store)

    def install_spans(self, tracer) -> None:
        from prefect_flow_arc_kg_postgres_etl_spark import flows
        from prefect_flow_arc_kg_postgres_etl_spark.operators import dedup as D
        from prefect_flow_arc_kg_postgres_etl_spark.sources import store as S

        tracer.wrap(flows, "ingest_flow", "flows")
        tracer.wrap(D, "incremental_dup_pairs", "dedup")
        tracer.wrap(S, "write_table", "store")
        tracer.wrap(S, "read_table", "store")

        def pairs_out(span, pairs):
            span.info["pairs_out"] = pairs.count()

        tracer.on_return["incremental_dup_pairs"] = pairs_out


WORKLOADS = {w.name: w for w in (KgSync, CorpusIngest)}
