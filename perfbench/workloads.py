"""The benchmark's workloads. Each is a closed loop with one client: the
next op starts when the previous one has returned.

A workload provides

* ``generate(dir)`` — make the run's seeded inputs, once, untimed;
* ``stage(dir)`` — lay out a fresh copy of the inputs in ``dir``;
* ``setup(spark, dir)`` — the program's set-up on the inputs in ``dir``:
  open the tables, build the ANN index (timed as ``setup_s``; repeated
  several times, see ``run.py``);
* ``warm()`` — one op of each type after set-up;
* ``ops()`` — the sequence of timed ops, as ``(op_type, thunk)``; each
  op appends one entry to ``op_log`` for the checks;
* ``cycle`` — how many ops of each type make one cycle of the workload;
* ``check()`` — verify every output after the timed phase; returns the
  indices of ops whose output was wrong, plus a list of messages.
"""

from __future__ import annotations

import glob
import math
import os
import shutil
from collections import Counter

import duckdb
import numpy as np
import pandas as pd
from pyspark.sql import functions as F

import gen

from salesdata_engineering_spark import datasets, ingest, io, marts  # noqa: E402
from salesdata_engineering_spark.ext import ann_index  # noqa: E402
from salesdata_engineering_spark.registry import QUERIES  # noqa: E402


class Workload:
    name = ""
    cycle: dict[str, int] = {}
    #: whole cycles timed at least, whatever --seconds says: ops still
    #: speed up from one cycle to the next after the warm op (the JIT is
    #: still compiling), so the sample count must not depend on how fast
    #: the machine happens to be
    min_cycles = 1
    io_dirs: tuple[str, ...] = ()
    data_dir = gen.DATA_DIR

    def __init__(self, seed: int, tracer):
        self.seed = seed
        self.tracer = tracer
        self.spark = None
        self.op_log: list[dict] = []  # one entry per op, warm and timed

    def generate(self, gen_dir: str) -> None:
        pass

    def stage(self, run_dir: str) -> None:
        """Lay out a fresh copy of the generated inputs in ``run_dir``."""
        os.makedirs(run_dir)


# ---------------------------------------------------------------------------
# etl_daily
# ---------------------------------------------------------------------------


class EtlDaily(Workload):
    """One cycle of the reference's ``main.py`` per landing drop:
    ingest (validate headers, route rejects, union) -> both marts ->
    dynamic partition overwrite of both mart tables -> ledger marks the
    accepted files done."""

    name = "etl_daily"
    N_DROPS = 40
    FILES_PER_DROP = 4
    ROWS_PER_FILE = 150
    EXTRA_SHARE = 0.25
    MISSING_SHARE = 0.25
    cycle = {"drop": 1}
    min_cycles = 3

    def sizes(self) -> dict:
        return {"data": "sf0.01", "drops": self.N_DROPS, "files_per_drop": self.FILES_PER_DROP,
                "rows_per_file": self.ROWS_PER_FILE, "extra_share": self.EXTRA_SHARE,
                "missing_share": self.MISSING_SHARE}

    def generate(self, gen_dir: str) -> None:
        self.gen_landing = f"{gen_dir}/landing"
        self.drops = gen.write_landing_drops(
            self.data_dir, self.gen_landing, self.seed, n_drops=self.N_DROPS,
            files_per_drop=self.FILES_PER_DROP, rows_per_file=self.ROWS_PER_FILE,
            extra_share=self.EXTRA_SHARE, missing_share=self.MISSING_SHARE)

    def stage(self, run_dir: str) -> None:
        # ingest moves rejected files away: every set-up gets its own drops
        shutil.copytree(self.gen_landing, f"{run_dir}/landing")

    def setup(self, spark, run_dir: str) -> None:
        self.spark = spark
        self.op_log = []
        self.landing = f"{run_dir}/landing"
        self.err_dir = f"{run_dir}/errors"
        self.cust_path = f"{run_dir}/marts/customers_data_mart"
        self.team_path = f"{run_dir}/marts/sales_team_data_mart"
        self.io_dirs = (self.cust_path, self.team_path)
        self.ledger = ingest.FileLedger(spark, f"{run_dir}/ledger")
        self.cust_dim = datasets.load_tables(spark, self.data_dir)["customer"].select(
            F.col("c_custkey").cast("int").alias("customer_id"),
            F.col("c_name").alias("full_name"),
        )
        self.next_drop = 0

    def _cycle(self) -> None:
        d = self.next_drop
        self.next_drop += 1
        drop_dir = os.path.join(self.landing, f"drop_{d:03d}")
        df, rep = ingest.ingest_batch(self.spark, drop_dir, self.err_dir, self.ledger)
        entry = {"drop": d, "accepted": list(rep.accepted), "rejected": list(rep.rejected),
                 "rows": rep.rows}
        self.op_log.append(entry)
        cm = marts.customer_monthly_spend(df, self.cust_dim)
        sm = marts.sales_team_mart(df)
        io.write_partition_overwrite_dynamic(
            cm.withColumn("sales_month_p", F.col("sales_month")), self.cust_path,
            ["sales_month_p"])
        io.write_partition_overwrite_dynamic(
            sm.withColumn("sales_month_p", F.col("sales_month")), self.team_path,
            ["sales_month_p", "store_id"])
        self.ledger.record(rep.accepted, ingest.STATUS_DONE)

    def warm(self) -> None:
        self._cycle()

    def ops(self):
        while self.next_drop < len(self.drops):
            yield "drop", self._cycle

    # -- output checks -------------------------------------------------------

    def check(self) -> tuple[set[int], list[str]]:
        bad: set[int] = set()
        msgs: list[str] = []
        con = duckdb.connect()
        for i, e in enumerate(self.op_log):
            files = self.drops[e["drop"]]
            want_acc = sorted(os.path.join(self.landing, f.path)
                              for f in files if f.variant != "missing")
            want_rej = sorted(os.path.join(self.err_dir, os.path.basename(f.path))
                              for f in files if f.variant == "missing")
            want_rows = sum(f.rows for f in files if f.variant != "missing")
            if sorted(e["accepted"]) != want_acc or sorted(e["rejected"]) != want_rej:
                bad.add(i)
                msgs.append(f"drop {e['drop']}: accepted/rejected files differ from the variants")
            if e["rows"] != want_rows:
                bad.add(i)
                msgs.append(f"drop {e['drop']}: {e['rows']} rows ingested, want {want_rows}")
            for p in want_rej:
                if not os.path.exists(p) or os.path.exists(
                        os.path.join(self.landing, os.path.dirname(files[0].path),
                                     os.path.basename(p))):
                    bad.add(i)
                    msgs.append(f"drop {e['drop']}: {os.path.basename(p)} not moved to errors")

        # ledger: every accepted file marked I exactly once, rejects never
        ledger = con.execute(
            f"SELECT file_name, status FROM read_parquet('{self.ledger.path}/*.parquet')").df()
        done = ledger[ledger.status == ingest.STATUS_DONE].file_name.value_counts()
        for i, e in enumerate(self.op_log):
            for p in e["accepted"]:
                if done.get(os.path.basename(p), 0) != 1:
                    bad.add(i)
                    msgs.append(f"ledger: {os.path.basename(p)} marked I "
                                f"{done.get(os.path.basename(p), 0)} times")
            for p in e["rejected"]:
                if os.path.basename(p) in set(ledger.file_name):
                    bad.add(i)
                    msgs.append(f"ledger: rejected {os.path.basename(p)} recorded")

        # marts: replay the dynamic partition overwrites on DuckDB
        want_cust: dict[str, tuple[int, pd.DataFrame]] = {}
        want_team: dict[tuple[str, int], tuple[int, pd.DataFrame]] = {}
        con.execute(f"CREATE VIEW customer AS SELECT * FROM '{self.data_dir}/customer.parquet'")
        for i, e in enumerate(self.op_log):
            if not e["accepted"]:
                continue
            files = ", ".join(f"'{p}'" for p in e["accepted"])
            con.execute(f"""CREATE OR REPLACE VIEW drop_rows AS
                SELECT customer_id, store_id, CAST(sales_date AS VARCHAR) AS sales_date,
                       sales_person_id, CAST(total_cost AS DOUBLE) AS total_cost
                FROM read_csv([{files}], header=true, union_by_name=true)""")
            cust = con.execute("""
                SELECT s.customer_id, s.sales_month, s.total_sales, c.c_name AS full_name
                FROM (SELECT customer_id, substr(sales_date, 1, 7) AS sales_month,
                             round(sum(total_cost), 2) AS total_sales
                      FROM drop_rows GROUP BY 1, 2) s
                LEFT JOIN customer c ON s.customer_id = c.c_custkey""").df()
            for month, part in cust.groupby("sales_month"):
                want_cust[month] = (i, part)
            team = con.execute("""
                WITH m AS (SELECT store_id, sales_person_id, substr(sales_date, 1, 7) AS sales_month,
                                  round(sum(total_cost), 2) AS total_sales
                           FROM drop_rows GROUP BY 1, 2, 3)
                SELECT *, CASE WHEN rank() OVER (PARTITION BY store_id, sales_month
                                                 ORDER BY total_sales DESC) = 1
                               THEN round(total_sales * 0.01, 2) ELSE 0 END AS incentive
                FROM m""").df()
            for key, part in team.groupby(["sales_month", "store_id"]):
                want_team[key] = (i, part)

        got_cust = con.execute(f"""
            SELECT customer_id, sales_month, CAST(total_sales AS DOUBLE) AS total_sales, full_name
            FROM read_parquet('{self.cust_path}/*/*.parquet', hive_partitioning=false)""").df()
        got_team = con.execute(f"""
            SELECT store_id, sales_person_id, sales_month,
                   CAST(total_sales AS DOUBLE) AS total_sales,
                   CAST(incentive AS DOUBLE) AS incentive
            FROM read_parquet('{self.team_path}/*/*/*.parquet', hive_partitioning=true)""").df()
        got_team["store_id"] = got_team["store_id"].astype(int)

        def compare(label, want, got, part_keys, row_keys, values):
            got_parts = dict(iter(got.groupby(part_keys if len(part_keys) > 1 else part_keys[0])))
            if set(got_parts) != set(want):
                missing = set(want) ^ set(got_parts)
                msgs.append(f"{label}: partitions differ: {sorted(missing)[:3]}")
                bad.update(i for k, (i, _) in want.items() if k in missing)
                bad.update(range(len(self.op_log)) if set(got_parts) - set(want) else ())
            for k, (i, exp) in want.items():
                if k not in got_parts:
                    continue
                a = exp.sort_values(row_keys).reset_index(drop=True)
                b = got_parts[k].sort_values(row_keys).reset_index(drop=True)
                ok = len(a) == len(b) and all(
                    (a[c].astype(str) == b[c].astype(str)).all() for c in row_keys)
                # Spark sums the inferred DOUBLE costs in its own order:
                # totals may differ from DuckDB's by a rounding step
                ok = ok and all(np.allclose(a[c].to_numpy(float), b[c].to_numpy(float),
                                            rtol=0, atol=0.0101) for c in values)
                if not ok:
                    bad.add(i)
                    msgs.append(f"{label}: partition {k} differs from the oracle")

        compare("customers_data_mart", want_cust, got_cust, ["sales_month"],
                ["customer_id", "full_name"], ["total_sales"])
        compare("sales_team_data_mart", want_team, got_team, ["sales_month", "store_id"],
                ["sales_person_id"], ["total_sales", "incentive"])
        return bad, msgs


# ---------------------------------------------------------------------------
# serve
# ---------------------------------------------------------------------------


class Serve(Workload):
    """Read-mostly serving: registry queries (each forced with a noop
    write) interleaved with IVF-PQ index searches and appends on one
    persisted index."""

    name = "serve"
    QUERY_LIST = (
        "asof_click_purchase",
        "text_pii_scrub",
    )
    SEARCH_BATCH = 10
    APPEND_BATCH = 50
    K, M_CAND, NPROBE, N_CODES = 10, 100, 8, 16
    RECALL_FLOOR = 0.4
    #: One cycle, in a fixed order (searches spread between the queries,
    #: the append last), so every run warms and reads the index the same
    #: way whatever the seed; the seed varies the vectors. Three searches
    #: a cycle, so their median shrugs off one slow search.
    CYCLE = ("search", "query:asof_click_purchase", "search", "query:text_pii_scrub",
             "search", "append")
    cycle = dict(Counter(CYCLE))

    def sizes(self) -> dict:
        return {"data": "sf0.01", "queries": list(self.QUERY_LIST),
                "vectors": len(self.base_vectors),
                "search_batch": self.SEARCH_BATCH, "append_batch": self.APPEND_BATCH,
                "searches_per_append": self.cycle["search"] / self.cycle["append"],
                "k": self.K, "recall_floor": self.RECALL_FLOOR}

    def generate(self, gen_dir: str) -> None:
        """The corpus as the checks see it; query and append vectors are
        derived from it and the seed as the ops run."""
        emb = pd.read_parquet(f"{self.data_dir}/embeddings.parquet")
        self.base_vectors = {int(i): np.asarray(v, dtype=np.float64)
                             for i, v in zip(emb.vec_id, emb.embedding)}
        self._base_matrix = np.stack(list(self.base_vectors.values()))

    def setup(self, spark, run_dir: str) -> None:
        """Publish the corpus where appends will land, then index it."""
        self.spark = spark
        self.op_log = []
        self.corpus_dir = f"{run_dir}/corpus"
        self.index_dir = f"{run_dir}/index"
        self.io_dirs = (self.corpus_dir,)
        self.vectors = dict(self.base_vectors)
        self.next_id = 10 * len(self.base_vectors)
        self.n_search = 0
        self.n_append = 0
        base = spark.read.parquet(f"{self.data_dir}/embeddings.parquet").select(
            "vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
        io.write_parquet(base, self.corpus_dir)
        n = len(self.base_vectors)
        ann_index.build_ivf_pq_index(
            spark, self._corpus(), self.index_dir,
            stride=max(1, round(math.sqrt(n))), corpus_count=n, n_codes=self.N_CODES)

    def _corpus(self):
        return self.spark.read.parquet(self.corpus_dir)

    # -- ops -----------------------------------------------------------------

    def _query(self, name: str):
        def run() -> None:
            with self.tracer.span(f"registry.{name}.compose"):
                df = QUERIES[name].fn(self.spark, self.data_dir)
            with self.tracer.span(f"registry.{name}.execute"):
                df.write.format("noop").mode("overwrite").save()
            self.op_log.append({"type": f"query:{name}"})
        return run

    def _new_vectors(self, purpose: str, n: int) -> pd.DataFrame:
        counter = self.n_search if purpose == "search" else self.n_append
        vecs = gen.ann_vectors(self._base_matrix, self.seed * 1000 + counter, n,
                               self.next_id, purpose)
        self.next_id += n
        return vecs

    def _search(self) -> None:
        qdf = self._new_vectors("search", self.SEARCH_BATCH).rename(columns={"vec_id": "query_id"})
        self.n_search += 1
        queries = self.spark.createDataFrame(qdf, "query_id long, embedding array<double>")
        res = ann_index.search_ivf_pq_index(
            self.spark, self.index_dir, self._corpus(), queries,
            k=self.K, m_cand=self.M_CAND, nprobe=self.NPROBE)
        with self.tracer.span("ann_index.search.execute"):
            rows = res.collect()
        self.op_log.append({"type": "search", "queries": qdf,
                            "known": len(self.vectors),
                            "result": [(r["query_id"], r["neighbor_id"]) for r in rows]})

    def _append(self) -> None:
        adf = self._new_vectors("append", self.APPEND_BATCH)
        self.n_append += 1
        batch = self.spark.createDataFrame(adf, "vec_id long, embedding array<double>")
        io.write_parquet(batch, self.corpus_dir, mode="append")
        ann_index.append_ivf_pq_index(self.spark, self.index_dir, batch)
        for i, v in zip(adf.vec_id, adf.embedding):
            self.vectors[int(i)] = np.asarray(v)
        entry = {"type": "append"}
        if self.tracer.enabled:
            entry["posting_files"] = len(glob.glob(f"{self.index_dir}/codes/cid=*/*.parquet"))
        self.op_log.append(entry)

    def _op(self, op_type: str):
        if op_type.startswith("query:"):
            return self._query(op_type.split(":", 1)[1])
        return {"search": self._search, "append": self._append}[op_type]

    def warm(self) -> None:
        """One op of each type; each query's result is collected here and
        kept for the oracle check."""
        self.results = {}
        for q in self.QUERY_LIST:
            self.results[q] = QUERIES[q].fn(self.spark, self.data_dir).toPandas()
        self._search()
        self._append()

    def ops(self):
        while True:
            for op_type in self.CYCLE:
                yield op_type, self._op(op_type)

    # -- output checks -------------------------------------------------------

    def recall(self, entry: dict) -> float:
        """recall@k of one search against exact cosine top-k over every
        vector indexed when it ran."""
        ids = np.array(list(self.vectors))[: entry["known"]]
        mat = np.stack([self.vectors[int(i)] for i in ids])
        mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
        got: dict[int, set] = {}
        for q, nb in entry["result"]:
            got.setdefault(int(q), set()).add(int(nb))
        hits = 0
        for qid, qv in zip(entry["queries"].query_id, entry["queries"].embedding):
            qv = np.asarray(qv) / np.linalg.norm(qv)
            top = ids[np.argsort(-(mat @ qv), kind="stable")[: self.K]]
            hits += len(got.get(int(qid), set()) & set(int(t) for t in top))
        return hits / (self.K * len(entry["queries"]))

    def check(self) -> tuple[set[int], list[str]]:
        from tests.oracle_utils import canon_frame, duckdb_con

        bad: set[int] = set()
        msgs: list[str] = []
        con = duckdb_con(self.data_dir)
        wrong = set()
        for q, got in self.results.items():
            s_cols, s_rows = canon_frame(got)
            o_cols, o_rows = canon_frame(con.execute(QUERIES[q].oracle).df())
            if s_cols != o_cols or s_rows != o_rows:
                wrong.add(f"query:{q}")
                msgs.append(f"{q}: result differs from its DuckDB oracle")
        self.recalls = []
        for i, e in enumerate(self.op_log):
            if e["type"] in wrong:
                bad.add(i)
            if e["type"] == "search":
                r = self.recall(e)
                self.recalls.append(r)
                if r < self.RECALL_FLOOR:
                    bad.add(i)
                    msgs.append(f"search op {i}: recall@{self.K} {r:.3f} < {self.RECALL_FLOOR}")
        return bad, msgs


WORKLOADS = {w.name: w for w in (EtlDaily, Serve)}
