"""The benchmark's workloads: one client, closed loop. Every operation is
checked when it completes. A workload checks every page's outcome against
the generator's expectation in each of its checking passes;
``pages_checked`` counts those pages and ``mismatched`` lists the ones that
differed."""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

from pyspark.sql import functions as F

import queries
from parser_rdf_spark.extract import extract_all
from parser_rdf_spark.graphops import predicate_statistics, void_description
from parser_rdf_spark.linking import connected_components
from parser_rdf_spark.materialize import GraphWriter, build_vertices, partition_metrics
from parser_rdf_spark.parse import docmeta_of, errors_of, parse_pages, triples_of
from parser_rdf_spark.sparql import sparql_query

# GraphWriter layout: the smallest that still runs the bucket loop and
# the predicate-bucket partitioning, so a run stays within its time budget
URL_BUCKETS = 1
PRED_BUCKETS = 4
EQUIV = ("http://www.w3.org/2002/07/owl#sameAs",
         "http://www.w3.org/2000/01/rdf-schema#seeAlso")


@dataclass
class Op:
    kind: str  # "check", "parse", "build" or "query"
    wall_s: float
    ok: bool
    known_defect: bool = False  # wrong in exactly the recorded way
    info: dict = field(default_factory=dict)


def parquet_files(root: str) -> list[str]:
    return [os.path.join(d, n) for d, _, names in os.walk(root)
            for n in names if n.endswith(".parquet")]


def _pq(root: str, table: str) -> str:
    return f"read_parquet('{root}/{table}/**/*.parquet', hive_partitioning = true)"


def _sql(query: str) -> list[tuple]:
    import duckdb

    with duckdb.connect() as con:
        con.execute("SET threads TO 2")
        return con.execute(query).fetchall()


def closed_loop(op, seconds: float, min_ops: int) -> list[Op]:
    """``op()`` until ``seconds`` have passed and at least ``min_ops`` ran."""
    ops = []
    deadline = time.perf_counter() + seconds
    while len(ops) < min_ops or time.perf_counter() < deadline:
        ops.append(op())
    return ops


def _page_mismatches(rows, corpus) -> list[str]:
    """Urls whose (format, error stage, triple count) differ from the
    generator's expectation, or that are missing from ``rows``."""
    bad = [url for url, fmt, stage, n in rows
           if (fmt, stage, n or 0) != tuple(vars(corpus.expected[url]).values())]
    seen = {r[0] for r in rows}
    return bad + [u for u in corpus.expected if u not in seen]


class ParseMixed:
    """Pages with text and html -> parse_pages -> triples and error counts."""

    with_text = True
    WARM_S = 5.0

    def __init__(self, work: str, corpus, tracer):
        self.corpus, self.tr = corpus, tracer
        self.pages_dir = corpus.dir
        self.pages_checked = 0
        self.mismatched: list[str] = []

    def prepare(self, spark) -> list[Op]:
        """Untimed: one pass that checks every page's outcome, then
        operations for WARM_S seconds, since an operation's wall falls over
        the first few as the JVM compiles its hot paths. Returns the
        checking pass and those operations."""
        t0 = time.perf_counter()
        with self.tr.span("parse.parse_pages"):
            rows = docmeta_of(parse_pages(spark.read.parquet(self.pages_dir))).select(
                "doc_url", "format", "error_stage", "n_triples").collect()
        mismatched = _page_mismatches([tuple(r) for r in rows], self.corpus)
        self.pages_checked += self.corpus.n_pages
        self.mismatched += mismatched
        check = Op("check", time.perf_counter() - t0, not mismatched,
                   info={"mismatched_pages": len(mismatched)})
        return [check] + closed_loop(lambda: self.op(spark), self.WARM_S, min_ops=1)

    def run(self, spark, seconds: float) -> list[Op]:
        return closed_loop(lambda: self.op(spark), seconds, min_ops=1)

    def op(self, spark) -> Op:
        pages = spark.read.parquet(self.pages_dir)
        t0 = time.perf_counter()
        with self.tr.span("op"), self.tr.span("parse.parse_pages"):
            parsed = parse_pages(pages).persist()
            n = triples_of(parsed).count()
            errors = {r["stage"]: r["count"]
                      for r in errors_of(parsed).groupBy("stage").count().collect()}
            parsed.unpersist()
        wall = time.perf_counter() - t0
        ok = n == self.corpus.triples and errors == self.corpus.errors_by_stage
        return Op("parse", wall, ok, info={"triples": n, "errors": errors})


class KgBuildHtml:
    """Html-only pages through the scripts/run_pipeline.py call sequence
    into a fresh output root (one build operation, in a fresh JVM as the
    job runs), then whole rounds of a fixed SPARQL mix over the ``triples``
    and ``terms`` tables that build wrote (query operations). Nothing is
    persisted between queries."""

    with_text = False
    MIN_ROUNDS = 3  # 24 latencies: the fewest whose tail percentile is above p50

    def __init__(self, work: str, corpus, tracer):
        self.corpus, self.tr = corpus, tracer
        self.pages_dir = corpus.dir
        self.mix = queries.shapes(corpus.chain_start)
        self.out = os.path.join(work, "kg")
        self.pages_checked = 0
        self.mismatched: list[str] = []

    def prepare(self, spark) -> list[Op]:
        """Nothing: a job pays its first pass in a fresh JVM, so it is timed."""
        return []

    def run(self, spark, seconds: float) -> list[Op]:
        """The build, then whole rounds of the query mix for ``seconds``
        counted from the end of the build, at least MIN_ROUNDS."""
        build = self._build(spark)
        self.answers, self.wrong_answers = queries.oracle_answers(
            _pq(self.out, "triples"), self.mix)
        writer = GraphWriter(self.out, url_buckets=URL_BUCKETS, pred_buckets=PRED_BUCKETS)
        plain = writer.triples(spark).select("subj", "pred", F.col("obj_value").alias("obj"))
        terms = writer.terms(spark)
        rounds = closed_loop(lambda: [self._query(q, terms if q["term_mode"] else plain)
                                      for q in self.mix], seconds, self.MIN_ROUNDS)
        return [build] + [o for r in rounds for o in r]

    # -- build ------------------------------------------------------------
    def _build(self, spark) -> Op:
        out = self.out
        pages = spark.read.parquet(self.pages_dir)
        t0 = time.perf_counter()
        with self.tr.span("op"):
            files_written, bytes_written = self._pipeline(spark, pages, out, "pass1")
        wall = time.perf_counter() - t0

        # checks, outside the timed wall, read straight from the parquet files
        stored = sum(os.path.getsize(f) for f in parquet_files(out))
        n = _sql(f"SELECT count(*) FROM {_pq(out, 'triples')}")[0][0]
        errors = dict(_sql(f"SELECT error_stage, count(*) FROM {_pq(out, 'docmeta')} "
                           "WHERE error_stage IS NOT NULL GROUP BY 1"))
        n_comp = _sql(f"SELECT count(DISTINCT component_id) FROM {_pq(out, 'vertices')}")[0][0]
        mismatched = _page_mismatches(
            _sql(f"SELECT doc_url, format, error_stage, n_triples FROM {_pq(out, 'docmeta')}"),
            self.corpus)
        self.pages_checked += self.corpus.n_pages
        self.mismatched += mismatched
        ok = (n == self.corpus.triples and errors == self.corpus.errors_by_stage
              and n_comp == self.corpus.components and not mismatched)
        return Op("build", wall, ok, info={
            "triples": n, "errors": errors, "components": n_comp,
            "mismatched_pages": len(mismatched),
            "stored_bytes_per_input_byte": stored / self.corpus.input_bytes,
            "files_written": files_written, "bytes_written": bytes_written,
        })

    def _pipeline(self, spark, pages, out: str, run_id: str) -> tuple[int, int]:
        """The scripts/run_pipeline.py stages, one span per layer call.
        Returns the files and bytes GraphWriter.run wrote."""
        span = self.tr.span
        with span("materialize.run"):
            writer = GraphWriter(out, url_buckets=URL_BUCKETS, pred_buckets=PRED_BUCKETS)
            writer.run(spark, pages, run_id)
        written = [os.path.getsize(f) for t in writer.TABLES
                   for f in parquet_files(os.path.join(out, t))]
        with span("extract.extract_all"):
            triples = writer.triples(spark)
            docmeta = writer.docmeta(spark)
            tables = extract_all(triples, docmeta=docmeta)
            for name, df in tables.items():
                if not name.startswith("_"):
                    df.write.mode("overwrite").parquet(os.path.join(out, name))
            tables["_res"].unpersist()
            (docmeta.filter(F.col("prefixes").isNotNull())
             .select("doc_url", F.explode("prefixes").alias("prefix", "namespace"))
             .write.mode("overwrite").parquet(os.path.join(out, "prefixes")))
        with span("linking.connected_components"):
            edges = writer.edges(spark)
            equiv = edges.filter(F.col("pred").isin(*EQUIV)).select(
                F.col("subj").alias("src"), F.col("obj").alias("dst"))
            components = connected_components(equiv)
        with span("materialize.build_vertices"):
            vertices = build_vertices(edges, components=components)
            vertices.write.mode("overwrite").parquet(os.path.join(out, "vertices"))
            (partition_metrics(vertices, "vertices", "iri", run_id)
             .withColumn("url_bucket", F.lit(-1))
             .write.mode("overwrite").partitionBy("url_bucket")
             .option("partitionOverwriteMode", "dynamic")
             .parquet(os.path.join(out, "metrics")))
            writer.snapshots.commit(writer._table_files(), "append-global-metrics",
                                    {"run_id": run_id})
        with span("graphops.predicate_statistics"):
            stats = predicate_statistics(
                triples.select("subj", "pred", F.col("obj_value").alias("obj"))).persist()
            stats.write.mode("overwrite").parquet(os.path.join(out, "predicate_stats"))
            void_description(triples, f"urn:kg:{run_id}", stats=stats).write.mode(
                "overwrite").parquet(os.path.join(out, "void"))
            stats.unpersist()
        with span("materialize.maintenance"):
            for table in writer.TABLES:
                writer.compact(spark, table)
            writer.expire_snapshots(keep_last=2)
        return len(written), sum(written)

    # -- read -------------------------------------------------------------
    def _query(self, q: dict, table) -> Op:
        name = q["name"]
        t0 = time.perf_counter()
        try:
            with self.tr.span("op"):
                with self.tr.span("sparql.plan", shape=name):
                    df = sparql_query(table, queries.PREFIXES + q["sparql"],
                                      term_mode=q["term_mode"])
                t1 = time.perf_counter()
                with self.tr.span("sparql.exec", shape=name):
                    rows = df.collect()
        except Exception as e:  # noqa: BLE001 - a raising query is a failed op
            return Op("query", 0.0, False, info={"shape": name, "error": repr(e)[:300]})
        wall = time.perf_counter() - t0
        got = queries.normalize(rows)
        ok = got == self.answers[name]
        known = not ok and got == self.wrong_answers.get(name)
        return Op("query", wall, ok, known, {
            "shape": name, "plan_s": t1 - t0, "exec_s": wall - (t1 - t0),
            "rows": len(rows), "expected_rows": len(self.answers[name]),
        })


WORKLOADS = {"parse_mixed": ParseMixed, "kg_build_html": KgBuildHtml}
