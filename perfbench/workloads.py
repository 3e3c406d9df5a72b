"""The three workloads.

Each drives the engine only through its public entry points — MySQL text
through ``InfiniSession.execute()`` or a registered plan function — and
checks every result:

* ``tpch_mysql``: the 22 TPC-H texts, each compared with DuckDB running the
  same text over the same Parquet (answers computed while staging);
* ``llm_pipeline``: the registered LLM-pipeline plans, compared with the
  registry's DuckDB oracle where one exists, else with the row multiset
  of the plan's first execution in the run;
* ``dml_nightly``: nights of CREATE TABLE + LOAD DATA INFILE + a seeded
  INSERT/UPDATE/DELETE/SELECT stream, replayed statement by statement on
  DuckDB (affected-row counts and read-backs must agree); after each
  night a fresh ``InfiniSession`` reading the table directory must see
  exactly DuckDB's final table.

A pass is one permutation of the statement list (one night for
``dml_nightly``); the workload seed draws the permutations and the DML
stream.
"""

from __future__ import annotations

import csv
import glob
import os
import shutil
import statistics

from check import canon, duck_result, same
from layers import inode_bytes

TPCH = [f"tpch_q{i}" for i in range(1, 23)]

LLM = [
    "dedup_exact", "dedup_minhash_lsh", "dedup_embedding_cosine",
    "ann_cosine_topk", "ann_ivf_topk", "ann_ivfpq_topk", "embedding_pq",
    "text_quality", "text_classifier_quality", "text_lang_id", "text_pii_scrub",
]

ORDERS_DDL = (
    "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus VARCHAR(1), "
    "o_totalprice DOUBLE, o_orderdate DATE, o_orderpriority VARCHAR(15)"
)
DUCK_CSV_COLUMNS = (
    "{'o_orderkey': 'BIGINT', 'o_custkey': 'BIGINT', 'o_orderstatus': 'VARCHAR', "
    "'o_totalprice': 'DOUBLE', 'o_orderdate': 'DATE', 'o_orderpriority': 'VARCHAR'}"
)
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
WRITE_KINDS = ("insert_row", "insert_select", "update", "delete")


def tail(samples: list[float]) -> float:
    """The highest order statistic with at least 10 samples beyond it."""
    return sorted(samples)[len(samples) - 11]


class Workload:
    """One statement list; ``one(bench, name, sid)`` runs a statement and
    returns ``(kind, ms)`` or raises on a failed or wrong statement."""

    name = ""
    tables: tuple[str, ...] = ()
    warmup_passes = 1
    #: measured passes run until --seconds have elapsed, and at least this many
    min_passes = 1
    names: list[str] = []

    def stage(self, bench) -> None:
        pass

    def group(self, name: str, kind: str) -> str:
        """Key whose per-run median enters ``query_geomean_ms``."""
        return name

    def nightly_metrics(self, untraced) -> dict[str, float]:
        return {}

    def run_pass(self, bench, p: int) -> list[tuple[str, str, float]]:
        out = []
        for name in bench.rng.sample(self.names, len(self.names)):
            res = bench.guarded(lambda: self.one(bench, name, f"p{p}.{name}"))
            if res is not None:
                out.append((name, *res))
        return out


class TpchMysql(Workload):
    name = "tpch_mysql"
    tables = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
    names = TPCH

    def stage(self, bench):
        import infinidb_spark.plans.ref_perf  # noqa: F401  (q3, q5, q10)
        import infinidb_spark.plans.tpch  # noqa: F401
        from infinidb_spark.plans.registry import ORACLES

        # the registered oracle of each TPC-H query IS its MySQL text
        self.texts = {n: ORACLES[n] for n in TPCH}
        self.answers = {n: duck_result(bench.duck, t) for n, t in self.texts.items()}

    def one(self, bench, name, sid):
        _res, df, rows, ms = bench.statement(sid, lambda: bench.sess.execute(self.texts[name]))
        bench.expect(name, same(canon(df.columns, rows), self.answers[name]))
        return "select", ms


class LlmPipeline(Workload):
    name = "llm_pipeline"
    tables = ("documents", "embeddings")
    names = LLM
    min_passes = 4

    def stage(self, bench):
        import infinidb_spark.plans.pipeline  # noqa: F401
        from infinidb_spark.plans.registry import ORACLES, QUERIES

        self.fns = {n: QUERIES[n] for n in LLM}
        self.answers = {n: duck_result(bench.duck, ORACLES[n]) for n in LLM if n in ORACLES}

    def one(self, bench, name, sid):
        fn = self.fns[name]
        _res, df, rows, ms = bench.statement(
            sid, lambda: fn(bench.spark, bench.data_dir), plans=True
        )
        got = canon(df.columns, rows)
        # no oracle: the first execution in the run fixes the answer
        want = self.answers.setdefault(name, got)
        bench.expect(name, same(got, want))
        return "plan", ms


class DmlNightly(Workload):
    name = "dml_nightly"
    tables = ("orders",)
    #: statement form -> (kind, count in a measured night's stream, which
    #: follows CREATE and LOAD); a warm-up night runs each form once
    forms = {
        "insert_row": ("insert_row", 5), "insert_select": ("insert_select", 3),
        "update_price": ("update", 3), "update_priority": ("update", 2),
        "delete_key": ("delete", 2), "delete_date": ("delete", 1),
        "select_status": ("select", 3), "select_priority": ("select", 3),
        "select_avg": ("select", 2),
    }

    def stage(self, bench):
        import duckdb
        import pyarrow.parquet as pq

        orders = pq.read_table(os.path.join(bench.data_dir, "orders.parquet")).to_pylist()
        self.csv = os.path.join(bench.work, "orders.csv")
        with open(self.csv, "w", newline="") as fh:
            w = csv.writer(fh, delimiter="|", lineterminator="\n")
            for r in orders:
                w.writerow([
                    r["o_orderkey"], r["o_custkey"], r["o_orderstatus"],
                    repr(r["o_totalprice"]), r["o_orderdate"].date().isoformat(),
                    r["o_orderpriority"],
                ])
        self.csv_rows = len(orders)
        self.replay = duckdb.connect()
        self.night_no = 0
        self.space_amp: list[float] = []

    @staticmethod
    def _sql(rng, form: str, t: str, night: int, j: int) -> str:
        if form == "insert_row":
            return (
                f"INSERT INTO {t} VALUES ({5_000_000 + night * 1000 + j}, "
                f"{rng.randrange(1500)}, '{rng.choice('FOP')}', "
                f"{rng.randrange(100_000, 50_000_000) / 100:.2f}, "
                f"'{rng.randrange(1995, 2002)}-{rng.randrange(1, 13):02d}-"
                f"{rng.randrange(1, 29):02d}', '{rng.choice(PRIORITIES)}')"
            )
        if form == "insert_select":
            # fresh keys: offset per statement, source rows from the load only
            return (
                f"INSERT INTO {t} SELECT o_orderkey + {10_000_000 + (night * 100 + j) * 100_000}, "
                "o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority "
                f"FROM {t} WHERE o_orderkey < 1000000 AND o_orderkey % 97 = {rng.randrange(97)}"
            )
        if form == "update_price":
            return (
                f"UPDATE {t} SET o_totalprice = o_totalprice + {rng.randrange(1, 400) / 4:.2f} "
                f"WHERE o_custkey % 89 = {rng.randrange(89)}"
            )
        if form == "update_priority":
            # rows already at the new value are excluded, so matched = changed
            prio = rng.choice(PRIORITIES)
            return (
                f"UPDATE {t} SET o_orderpriority = '{prio}' "
                f"WHERE o_orderstatus = '{rng.choice('FOP')}' "
                f"AND o_orderkey % 61 = {rng.randrange(61)} AND o_orderpriority <> '{prio}'"
            )
        if form == "delete_key":
            return f"DELETE FROM {t} WHERE o_orderkey % 211 = {rng.randrange(211)}"
        if form == "delete_date":
            return (
                f"DELETE FROM {t} WHERE o_orderdate < DATE '1995-{rng.randrange(1, 13):02d}-01' "
                f"AND o_custkey % 7 = {rng.randrange(7)}"
            )
        if form == "select_status":
            return (
                "SELECT o_orderstatus, COUNT(*) AS n, ROUND(SUM(o_totalprice), 2) AS total "
                f"FROM {t} GROUP BY o_orderstatus"
            )
        if form == "select_priority":
            return (
                f"SELECT o_orderpriority, COUNT(*) AS n, MAX(o_orderkey) AS max_key FROM {t} "
                f"WHERE o_orderdate >= DATE '{rng.randrange(1995, 2002)}-01-01' "
                "GROUP BY o_orderpriority"
            )
        return (
            f"SELECT COUNT(*) AS n, ROUND(AVG(o_totalprice), 4) AS avg_price FROM {t} "
            f"WHERE o_custkey % 13 = {rng.randrange(13)}"
        )

    def run_pass(self, bench, p):
        night = self.night_no
        self.night_no += 1
        table = f"night{night}"
        rng = bench.rng
        forms = [f for f, (_k, n) in self.forms.items() for _ in range(1 if p < 0 else n)]
        rng.shuffle(forms)
        stmts = [
            ("create", f"CREATE TABLE {table} ({ORDERS_DDL})"),
            ("load", f"LOAD DATA INFILE '{self.csv}' INTO TABLE {table} FIELDS TERMINATED BY '|'"),
        ] + [(self.forms[f][0], self._sql(rng, f, table, night, j)) for j, f in enumerate(forms)]
        out = []
        for j, (kind, sql) in enumerate(stmts):
            res = bench.guarded(lambda: self.one(bench, kind, sql, f"n{night}.{j}", table))
            if res is not None:
                out.append((f"{kind}.{j}", *res))
        bench.guarded(lambda: self.end_night(bench, table))
        return out

    def _duck(self, kind: str, sql: str):
        if kind == "load":
            table = sql.split("INTO TABLE ")[1].split()[0]
            sql = (
                f"INSERT INTO {table} SELECT * FROM read_csv('{self.csv}', delim='|', "
                f"header=false, columns={DUCK_CSV_COLUMNS})"
            )
        if kind == "select":
            return duck_result(self.replay, sql)
        rows = self.replay.execute(sql).fetchall()
        return rows[0][0] if rows and kind != "create" else 0

    @staticmethod
    def _table_dir(bench, table: str) -> str:
        """The managed table's directory (under the session's managed root
        in ``TMPDIR``)."""
        (path,) = glob.glob(os.path.join(bench.work, "tmp", "*", table))
        return path

    def one(self, bench, kind, sql, sid, table):
        tracer = bench.tracer
        counted = tracer is not None and kind in WRITE_KINDS
        if counted:
            root = os.path.dirname(self._table_dir(bench, table))
            before = inode_bytes(root)
        res, df, rows, ms = bench.statement(sid, lambda: bench.sess.execute(sql))
        want = self._duck(kind, sql)
        if kind == "select":
            bench.expect(sid, same(canon(df.columns, rows), want))
        else:
            bench.expect(sid, None if res == want else f"{kind} affected {res}, DuckDB {want}")
        if kind == "load":
            # every staged row loaded, so none rejected
            bench.expect(sid, None if res == self.csv_rows else f"loaded {res} of {self.csv_rows}")
        if counted:
            after = inode_bytes(root)
            old_inodes = {ino for ino, _ in before.values()}
            for path, (ino, size) in after.items():
                if path in before:
                    continue
                if ino in old_inodes:
                    tracer.counts["dml.files_linked"] += 1
                else:
                    tracer.counts["dml.files_written"] += 1
                    tracer.counts["dml.bytes_written"] += size
            tracer.counts["dml.rows_affected"] += res
        return kind, ms

    def group(self, name, kind):
        return kind

    def nightly_metrics(self, untraced):
        def pick(kinds):
            return sorted(ms for _n, k, ms in untraced if k in kinds)

        writes, reads = pick(WRITE_KINDS), pick(("select",))
        (load_ms,) = pick(("load",))
        return {
            "nightly.load_rows_per_s": self.csv_rows / (load_ms / 1000.0),
            "nightly.write_p50_ms": statistics.median(writes),
            "nightly.read_p50_ms": statistics.median(reads),
            "nightly.stmt_tail_ms": tail([ms for *_x, ms in untraced]),
            "dml.space_amp": statistics.median(self.space_amp),
        }

    def end_night(self, bench, table):
        """Fresh-session read of the table directory, space amplification,
        then drop the table on both sides (untimed)."""
        from infinidb_spark.session import InfiniSession

        path = self._table_dir(bench, table)
        fresh = InfiniSession(bench.spark.newSession())
        df = fresh.sql(f"SELECT * FROM parquet.`{path}`")
        rows = df.collect()
        bench.expect(f"{table}.fresh", same(canon(df.columns, rows),
                                            duck_result(self.replay, f"SELECT * FROM {table}")))
        if bench.tracer:
            on_disk = sum(dict(inode_bytes(os.path.dirname(path)).values()).values())
            compact = os.path.join(bench.work, f"compact_{table}")
            df.coalesce(1).write.parquet(compact)
            self.space_amp.append(on_disk / sum(dict(inode_bytes(compact).values()).values()))
            shutil.rmtree(compact)
        bench.sess.execute(f"DROP TABLE {table}")
        self.replay.execute(f"DROP TABLE {table}")


WORKLOADS = {w.name: w for w in (TpchMysql, LlmPipeline, DmlNightly)}
