"""The two workloads: a fixed mix of calls per cycle into the
package's public entry points, each call paired with its output check.

A cycle is one pass through a workload's mix. The timed pass runs
whole cycles, so every run executes the same composition of calls and
per-call percentiles stay comparable between runs and commits.
"""

from __future__ import annotations

import os
import re
import shutil
from collections.abc import Callable
from dataclasses import dataclass
from typing import Any

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from checks import PII_PATTERNS, Expectations, jaccard

NOW = "2026-01-01 00:00:00"
KNN_K = 10
IVF_NPROBE = 2
TABLES = ("nation", "customer", "orders", "lineitem")
EXPORT_OF = {
    "xlsx": "export.customer_xlsx", "csv": "export.orders_csv",
    "ndjson": "export.lineitem_ndjson", "parquet": "export.part_parquet",
    "xml": "export.supplier_xml",
}
#: the export the ingestion procedure runs full DQ discovery on; the
#: other formats are read and described (read_any + file_metadata)
INGEST_FORMAT = "csv"
EXPORT_COLUMNS = 4


@dataclass
class Call:
    op: str
    fn: Callable[[], Any]
    check: Callable[[Any], str | None]
    #: root span of the call in traced runs; a layer name when the call
    #: itself is that layer's work (a lazy plan plus the action running it)
    span: str = ""
    bytes_in: int = 0
    #: storage paths the call writes; the bytes of the files it creates
    #: or rewrites under them count as written
    outputs: Callable[[], tuple[str, ...]] = lambda: ()
    #: per-call layer counters, read from the result in traced runs
    counters: Callable[[Any], dict[str, float]] = lambda r: {}


def file_stamps(paths: tuple[str, ...]) -> dict[str, tuple[int, int]]:
    """(size, mtime) of every data file under ``paths``."""
    files = [p for p in paths if os.path.isfile(p)]
    files += [os.path.join(r, f) for p in paths for r, _, fs in os.walk(p) for f in fs
              if not f.startswith((".", "_"))]
    out = {}
    for f in files:
        st = os.stat(f)
        out[f] = (st.st_size, st.st_mtime_ns)
    return out


def bytes_written(before: dict[str, tuple[int, int]], after: dict[str, tuple[int, int]]) -> int:
    """Bytes of the files that are new or changed between two stamps."""
    return sum(size for f, (size, mtime) in after.items() if before.get(f) != (size, mtime))


def _mismatch(what: str, got, want) -> str | None:
    return None if got == want else f"{what}: got {got!r}, want {want!r}"


class Workload:
    """Shared state: the package, the generated inputs, a work dir."""

    name = ""
    #: nominal seconds per warm cycle (the median on a 4-vCPU VM): a run
    #: times as many whole cycles as fit in ``--seconds`` at this pace
    cycle_s = 0.0
    #: generator input groups the workload reads
    parts: tuple[str, ...] = ()

    def __init__(self, pkg, inputs: str, manifest: dict, work: str, seed: int) -> None:
        self.P = pkg
        self.inputs = inputs
        self.manifest = manifest
        self.work = work
        self.seed = seed
        self.spark = None
        self.expect = Expectations(inputs, manifest)

    def input(self, key: str) -> str:
        return os.path.join(self.inputs, self.manifest["inputs"][key]["path"])

    def input_bytes(self, key: str) -> int:
        return self.manifest["inputs"][key]["bytes"]

    def register(self, spark) -> None:
        """Per set-up: bind the session and register the inputs."""
        self.spark = spark

    def reset(self) -> None:
        """Restore any state a previous pass changed."""

    def cycle(self, k: int) -> list[Call]:
        raise NotImplementedError

    def final_check(self, n_cycles: int) -> str | None:
        return None

    def warehouse(self, table: str) -> str:
        wh = self.spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
        return os.path.join(wh, table.lower())


# --------------------------------------------------------------------------
# procedures: the reference's stored-procedure surface, reads and writes
# --------------------------------------------------------------------------


class Procedures(Workload):
    """SQL batch, table DQ, ingestion (file DQ discovery + codegen),
    file reads in every export format, PII report, objective
    interpretation and code generation; then the write procedures: an
    SCD1 upsert of one change batch into a parquet dimension, its
    masked publish and a glossary append. Cycle ``k`` applies change
    batch ``k``."""

    name = "procedures"
    cycle_s = 15.0
    parts = ("tables", "scd")
    TARGET = "DIM_CUSTOMER"

    def __init__(self, *a) -> None:
        super().__init__(*a)
        self.threshold = 100000 + (self.seed % 7) * 10000
        self.sql = ";\n".join([
            "CREATE OR REPLACE TEMP VIEW big_orders AS "
            f"SELECT * FROM orders WHERE o_totalprice > {self.threshold}",
            "SELECT count(*) AS n FROM big_orders",
            "SELECT n_name, round(sum(l_extendedprice * (1 - coalesce(l_discount, 0))), 2) "
            "AS revenue FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
            "JOIN customer ON o_custkey = c_custkey "
            "JOIN nation ON c_nationkey = n_nationkey GROUP BY n_name ORDER BY revenue DESC",
            # planted failure: the batch must isolate it and continue
            f"SELECT * FROM missing_table_{self.seed}",
            "DROP TABLE IF EXISTS bench_flag_status",
            "CREATE TABLE bench_flag_status USING parquet AS SELECT l_returnflag, "
            "l_linestatus, count(*) AS n, sum(l_quantity) AS qty FROM lineitem "
            "GROUP BY l_returnflag, l_linestatus",
            "SELECT count(*) AS n FROM bench_flag_status",
        ]) + ";"
        self.customer_meta = {"tables": [{
            "table": "CUSTOMER",
            "columns": [{"column_name": c, "type": "NUMBER" if d in ("BIGINT", "INTEGER", "DOUBLE")
                         else "VARCHAR"} for c, d, *_ in self.expect.rows("DESCRIBE customer")],
        }]}
        self.target = os.path.join(self.work, "dim_customer.parquet")
        self.batches = sorted(k for k in self.manifest["inputs"] if k.startswith("scd.batch_"))

    def register(self, spark) -> None:
        super().register(spark)
        self.P.session.register_views(spark, os.path.join(self.inputs, "tables"), TABLES)

    def reset(self) -> None:
        shutil.rmtree(self.target, ignore_errors=True)
        shutil.copytree(self.input("scd.initial"), self.target)

    def cycle(self, k: int) -> list[Call]:
        if k >= len(self.batches):
            return []
        P = self.P
        tb = lambda t: self.input_bytes(f"table.{t}")  # noqa: E731
        batch = self.batches[k]
        masked = f"{self.TARGET}_MASKED"
        calls = [
            Call("sql_batch", lambda: P.plans.engine.execute_sql_batch(self.spark, self.sql),
                 self.check_batch,
                 bytes_in=sum(tb(t) for t in ("orders", "lineitem", "customer", "nation")),
                 outputs=lambda: (self.warehouse("bench_flag_status"),),
                 counters=self.batch_counters),
            Call("table_dq_orders", lambda: P.operators.dq.run_table_dq(
                     self.spark.table("orders"), "ORDERS", now=NOW),
                 self.check_table_dq, bytes_in=tb("orders"),
                 counters=lambda r: {"dq.columns": len(r["dq_results"])}),
            Call(f"ingestion_{INGEST_FORMAT}", lambda: P.pipelines.ingestion.ingestion_code_generator(
                     self.spark, "Build an SCD1 pipeline for this file", self.export(INGEST_FORMAT)),
                 self.check_ingestion, bytes_in=self.export_bytes(INGEST_FORMAT)),
        ]
        for fmt in EXPORT_OF:
            if fmt != INGEST_FORMAT:
                calls.append(Call(f"file_scan_{fmt}", lambda fmt=fmt: self.scan(fmt),
                                  lambda r, fmt=fmt: self.check_scan(fmt, r),
                                  bytes_in=self.export_bytes(fmt)))
        calls += [
            Call("pii_report", lambda: P.operators.security.pii_masking_report(
                     self.spark, self.spark.table("customer"), "CUSTOMER", save=False),
                 lambda r: _mismatch("masked columns", r.get("masked_columns"),
                                     self.expect.pii_types("customer")),
                 bytes_in=tb("customer"),
                 counters=lambda r: {"security.columns_masked": len(r["masked_columns"])}),
            Call("interpret", lambda: P.pipelines.interpreter.interpret_objective(
                     self.spark, "Compute total O_TOTALPRICE per O_CUSTKEY for big orders"),
                 self.check_interpret),
            Call("codegen_scd1", lambda: P.pipelines.codegen.generate_code(
                     "Build an incremental SCD1 load of customer", self.customer_meta),
                 self.check_codegen),
            Call("upsert", lambda: self.upsert(batch), lambda r: self.check_upsert(k, r),
                 span="scd.merge", bytes_in=self.input_bytes(batch),
                 outputs=lambda: (self.target,),
                 counters=lambda r: {"scd.rows_out": r["n_rows"],
                                     "sink.bytes_written": r["total_bytes"],
                                     "sink.files_written": r["n_files"]}),
            Call("mask_publish", lambda: P.operators.security.pii_masking_report(
                     self.spark, P.session.load_table(self.spark, self.work, "dim_customer"),
                     self.TARGET, save=True),
                 lambda r: _mismatch("masked columns", r.get("masked_columns"),
                                     self.expect_masked()),
                 outputs=lambda: (self.warehouse(masked),),
                 counters=lambda r: {"security.columns_masked": len(r["masked_columns"])}),
            Call("glossary", lambda: P.pipelines.glossary.generate_business_glossary(
                     self.spark, masked),
                 lambda r: _mismatch("glossary columns", r.get("columns_defined"), 8),
                 outputs=lambda: (self.warehouse(P.pipelines.glossary.GLOSSARY_TABLE),)),
        ]
        return calls

    def export(self, fmt: str) -> str:
        return self.input(EXPORT_OF[fmt])

    def export_bytes(self, fmt: str) -> int:
        return self.input_bytes(EXPORT_OF[fmt])

    def scan(self, fmt: str) -> dict:
        D = self.P.sources.discovery
        path = self.export(fmt)
        return D.file_metadata(path, D.read_any(self.spark, path))

    def upsert(self, key: str) -> dict:
        P = self.P
        batch_dir, name = os.path.split(self.input(key))
        target = P.session.load_table(self.spark, self.work, "dim_customer")
        batch = P.session.load_table(self.spark, batch_dir, name.removesuffix(".parquet"))
        merged = P.operators.scd.scd1_merge(target, batch, ["c_custkey"], order_col="updated_at")
        staging = self.target + ".staging"
        P.sources.sink.write_partitioned(merged, staging, ["c_mktsegment"])
        P.sources.sink.commit_swap(staging, self.target)
        return P.sources.sink.table_storage_report(self.target)

    def check_batch(self, r: dict) -> str | None:
        d = r.get("details", [])
        status = [e.get("status") for e in d]
        want = ["SUCCESS"] * 3 + ["FAILED"] + ["SUCCESS"] * 3
        if status != want:
            return f"statement status {status}, want {want}"
        if r.get("failed_statements") != 1 or r.get("status") != "PARTIAL":
            return f"batch status {r.get('status')} failed={r.get('failed_statements')}"
        n_big = self.expect.count(
            f"SELECT count(*) FROM orders WHERE o_totalprice > {self.threshold}")
        if d[1]["rows"][0]["n"] != n_big:
            return f"big_orders count {d[1]['rows'][0]['n']} != {n_big}"
        want_rev = self.expect.revenue_by_nation()
        got_rev = {row["n_name"]: float(row["revenue"]) for row in d[2]["rows"]}
        if set(got_rev) != set(want_rev) or any(
            abs(got_rev[n] - want_rev[n]) > 0.02 for n in want_rev
        ):
            return "revenue by nation differs from the DuckDB restatement"
        n_groups = self.expect.count(
            "SELECT count(*) FROM (SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem)")
        return _mismatch("CTAS group count", d[6]["rows"][0]["n"], n_groups)

    @staticmethod
    def batch_counters(r: dict) -> dict[str, float]:
        return {
            "engine.statements": r["total_statements"],
            "engine.statements_failed": r["failed_statements"],
            "engine.statement_s": sum(e["execution_time_sec"] for e in r["details"]),
        }

    def check_table_dq(self, r: dict) -> str | None:
        want = self.expect.null_distinct("orders")
        got = {c: (p["count_nulls"], p["count_distinct"]) for c, p in r["profiling"].items()}
        return _mismatch("orders (nulls, distinct)", got, want)

    def check_scan(self, fmt: str, r: dict) -> str | None:
        got = (r["row_count"], r["column_count"])
        want = (self.manifest["inputs"][EXPORT_OF[fmt]]["rows"], EXPORT_COLUMNS)
        return _mismatch(f"{fmt} (rows, columns)", got, want)

    def check_ingestion(self, r: dict) -> str | None:
        if r.get("status") != "SUCCESS" or r.get("task_type") != "scd1_pipeline":
            return f"ingestion: {r.get('status')} {r.get('error')}"
        fd = r["file_definition"]
        got = (fd["row_count"], fd["column_count"])
        want = (self.manifest["inputs"][EXPORT_OF[INGEST_FORMAT]]["rows"], EXPORT_COLUMNS)
        if got != want:
            return f"ingestion (rows, columns) {got} != {want}"
        # completeness, uniqueness and validity per column at least
        if r["dq_summary"]["total_rules"] < 3 * EXPORT_COLUMNS:
            return "ingestion: too few DQ rules"
        return None

    def check_interpret(self, r: dict) -> str | None:
        if r.get("status") != "SUCCESS":
            return f"interpret: {r.get('error')}"
        names = {t["table"].lower() for t in r["relevant_metadata"]["tables"]}
        return None if "orders" in names else f"orders not among relevant tables {names}"

    @staticmethod
    def check_codegen(r: dict) -> str | None:
        if r.get("task_type") != "scd1_pipeline":
            return f"task {r.get('task_type')} != scd1_pipeline"
        return None if "CUSTOMER" in r["sql_code"] else "CUSTOMER missing from generated SQL"

    def expect_masked(self) -> dict[str, str]:
        self.expect.con.execute(
            f"CREATE VIEW IF NOT EXISTS scd_initial AS SELECT * FROM {self.expect.scd_initial()}")
        return self.expect.pii_types("scd_initial")

    def check_upsert(self, k: int, r: dict) -> str | None:
        rows, _ = self.expect.scd_expected(k + 1)
        return _mismatch(f"rows after batch {k}", r["n_rows"], rows)

    def final_check(self, n_cycles: int) -> str | None:
        got = self.expect.table_hash_of(self.target)
        want = self.expect.scd_expected(n_cycles)
        return _mismatch("SCD1 result (rows, hash)", got, want)


# --------------------------------------------------------------------------
# corpus: LLM-data batch — few long shuffle-heavy jobs
# --------------------------------------------------------------------------


def _scrub_restated(text: str) -> dict[str, int]:
    counts = dict.fromkeys(PII_PATTERNS, 0)
    for t in ("EMAIL", "CREDIT_CARD", "AADHAAR", "PHONE"):
        p = PII_PATTERNS[t]
        passes = 2 if p.startswith("(^|") else 1
        for _ in range(passes):
            repl = rf"\1<{t}>\2" if passes == 2 else f"<{t}>"
            text, n = re.subn(p, repl, text)
            counts[t] += n
    return counts


class Corpus(Workload):
    name = "corpus"
    cycle_s = 10.5
    parts = ("corpus",)

    def register(self, spark) -> None:
        super().register(spark)
        load = self.P.session.load_table
        self.docs = load(spark, self.inputs, "documents")
        self.emb = load(spark, self.inputs, "embeddings")
        self.cents = load(spark, self.inputs, "centroids")
        qs = self.manifest["truth"]["queries"]
        self.queries = self.emb.filter(self.emb.vec_id.isin(qs))
        self.pairs: list = []

    def cycle(self, k: int) -> list[Call]:
        P, docs_b = self.P, self.input_bytes("corpus.documents")
        emb_b = self.input_bytes("corpus.embeddings")
        survivors = os.path.join(self.work, f"dedup_{k}.parquet")
        return [
            Call("prepare_corpus", self.prepare, self.check_prepare,
                 span="corpus.clean", bytes_in=docs_b,
                 counters=lambda r: {"corpus.kept_frac": r["kept_fraction"],
                                     "corpus.chunks": r["chunks"]}),
            Call("exact_dedup", lambda: self.exact(survivors), self.check_exact,
                 span="dedup.exact", bytes_in=docs_b, outputs=lambda: (survivors,)),
            Call("minhash_lsh", self.minhash, self.check_minhash, span="dedup.minhash",
                 bytes_in=docs_b,
                 counters=self.minhash_counters),
            Call("connected_components", self.components, self.check_components,
                 span="dedup.components"),
            Call("scrub_text", self.scrub, self.check_scrub, span="security.scrub",
                 bytes_in=docs_b),
            Call("knn_bruteforce", lambda: P.operators.similarity.knn_bruteforce(
                     self.emb, self.queries, k=KNN_K).collect(),
                 self.check_knn_exact, span="similarity.knn", bytes_in=emb_b),
            Call("knn_ivf", lambda: P.operators.similarity.knn_ivf(
                     self.emb, self.queries, self.cents, k=KNN_K, nprobe=IVF_NPROBE).collect(),
                 self.check_knn_ivf, span="similarity.knn", bytes_in=emb_b,
                 counters=lambda r: {"similarity.ivf_recall": self.ivf_recall(r)}),
        ]

    def prepare(self) -> dict:
        env = self.P.pipelines.corpus_prep.prepare_corpus(self.docs)
        return env["stages"] if env["status"] == "SUCCESS" else env

    def exact(self, out: str) -> str:
        """Exact dedup, survivors written as parquet (the batch's output)."""
        self.P.sources.discovery.write_any(self.P.operators.dedup.exact_dedup(self.docs),
                                           out, "parquet")
        return out

    def check_exact(self, out: str) -> str | None:
        ids = set(pq.read_table(out, columns=["doc_id"]).column(0).to_pylist())
        want = self.expect.exact_survivors
        return None if ids == want else f"exact dedup kept {len(ids)}, want {len(want)}"

    def check_prepare(self, r: dict) -> str | None:
        want = self.expect.prepared
        return _mismatch("prepare stages", {k: r.get(k) for k in want}, want)

    def minhash(self) -> list[tuple[int, int, float]]:
        self.pairs = [tuple(r) for r in self.P.operators.dedup.minhash_lsh_pairs(
            self.docs).collect()]
        return self.pairs

    def check_minhash(self, pairs) -> str | None:
        s = self.expect.shingle_sets
        for a, b, j in pairs:
            if abs(jaccard(s[a], s[b]) - j) > 1e-6 or j < 0.9:
                return f"pair ({a}, {b}) jaccard {j} wrong or below threshold"
        recall = self.planted_recall(pairs)
        return None if recall >= 0.9 else f"planted near-dup recall {recall:.3f} < 0.9"

    def planted_recall(self, pairs) -> float:
        found = {(a, b) for a, b, _ in pairs}
        planted = self.expect.planted_near_dups
        return len(planted & found) / len(planted)

    def minhash_counters(self, pairs) -> dict[str, float]:
        """LSH candidates: same-bucket pairs summed over bands, from the
        package's own bucket-size report (traced runs only)."""
        stats = self.P.operators.dedup.lsh_bucket_stats(self.docs).collect()
        cand = sum(r["n_buckets"] * r["bucket_size"] * (r["bucket_size"] - 1) // 2 for r in stats)
        return {"dedup.lsh_candidates": cand, "dedup.pairs_verified": len(pairs),
                "dedup.verify_ratio": len(pairs) / cand if cand else 0.0,
                "dedup.planted_recall": self.planted_recall(pairs)}

    def components(self) -> dict[int, int]:
        edges = self.spark.createDataFrame(
            [(a, b) for a, b, _ in self.pairs], "doc_a LONG, doc_b LONG")
        return {r["id"]: r["comp"] for r in
                self.P.operators.dedup.connected_components(edges).collect()}

    def check_components(self, comp: dict[int, int]) -> str | None:
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            while parent.setdefault(x, x) != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b, _ in self.pairs:
            ra, rb = find(a), find(b)
            parent[max(ra, rb)] = min(ra, rb)
        want = {x: find(x) for x in parent}
        return _mismatch("components", comp, want)

    def scrub(self) -> dict[str, int]:
        s = self.docs.select(self.P.operators.security.scrub_text_expr("text").alias("t"))
        aggs = [F.sum(F.size(F.split("t", f"<{t}>")) - 1).alias(t) for t in PII_PATTERNS]
        residual = F.sum(F.when(F.col("t").rlike("|".join(
            f"({p})" for p in PII_PATTERNS.values())), 1).otherwise(0)).alias("residual")
        return s.agg(*aggs, residual).collect()[0].asDict()

    def check_scrub(self, r: dict) -> str | None:
        want = dict.fromkeys(PII_PATTERNS, 0)
        for _, text in self.expect.documents:
            for t, n in _scrub_restated(text or "").items():
                want[t] += n
        want["residual"] = 0
        if want["EMAIL"] < self.expect.pii_planted["EMAIL"]:
            return "restated scrub misses planted e-mails"
        return _mismatch("scrub placeholder counts", {k: int(v or 0) for k, v in r.items()}, want)

    def check_knn_exact(self, rows) -> str | None:
        ref = self.expect.knn(KNN_K)
        ids = self.expect.embeddings[0]
        by_q: dict[int, list] = {}
        for r in rows:
            by_q.setdefault(r["query_id"], []).append(r)
        if set(by_q) != set(ref):
            return "knn: wrong query set"
        for q, (cos, kth) in ref.items():
            got = sorted(by_q[q], key=lambda r: r["rank"])
            if [r["rank"] for r in got] != list(range(1, KNN_K + 1)):
                return f"knn query {q}: ranks {[r['rank'] for r in got]}"
            for r in got:
                true = cos[ids.searchsorted(r["neighbor_id"])]
                if abs(true - r["cosine"]) > 1e-5 or true < kth - 1e-6:
                    return f"knn query {q}: neighbour {r['neighbor_id']} not in numpy top-{KNN_K}"
        return None

    def check_knn_ivf(self, rows) -> str | None:
        ref = self.expect.knn(KNN_K)
        ids = self.expect.embeddings[0]
        for r in rows:
            true = ref[r["query_id"]][0][ids.searchsorted(r["neighbor_id"])]
            if abs(true - r["cosine"]) > 1e-5 or not 1 <= r["rank"] <= KNN_K:
                return f"ivf query {r['query_id']}: cosine {r['cosine']} != {true}"
        return None

    def ivf_recall(self, rows) -> float:
        ref = self.expect.knn(KNN_K)
        ids = self.expect.embeddings[0]
        hit = sum(ref[r["query_id"]][0][ids.searchsorted(r["neighbor_id"])]
                  >= ref[r["query_id"]][1] - 1e-6 for r in rows)
        return hit / (KNN_K * len(ref))


WORKLOADS = {w.name: w for w in (Procedures, Corpus)}
