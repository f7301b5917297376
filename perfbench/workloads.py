"""The workloads: their op sequences, inputs and output checks.

An op is one call into the package, timed from the call to the returned
result; its check runs afterwards, untimed.  A read op is a registered
query -- the builder (``registry``) plus ``toPandas`` of its DataFrame --
checked against the digest of the query's DuckDB oracle in ``oracle.py``'s
canonical form.

Importing this module imports neither pyspark nor the package.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
from dataclasses import dataclass
from typing import Any, Callable

# similarity_search: ANN multi-probe, MinHash-LSH dedup and k-means, over
# state staged on first use (so during warm-up, inside setup_s), plus a
# bounded availableNow stream replay.  A builder of thousands of py4j calls,
# a loop of tens of jobs and a micro-batch drain: the operators/similarity,
# operators/dedup and streaming/jobs layers.  Bypasses vtable and medallion.
SIMILARITY_SEARCH = (
    "ann_multiprobe_topk", "minhash_lsh_pairs", "embedding_kmeans_clusters",
    "stream_hourly_tumbling",
)


@dataclass
class Op:
    name: str
    run: Callable[[Any], Any]  # (tracer) -> result; the timed part
    check: Callable[[Any], str | None]  # result -> None, or what is wrong


def frame_digest(pdf) -> str:
    """Digest of a result in ``oracle.py``'s canonical form (columns by
    name, normalized dtypes, sorted rows): equal digests mean the exact
    cell-by-cell comparison of ``oracle.compare_query`` would pass."""
    import pandas as pd

    from energy_emissions_lakehouse_spark.oracle import _canonicalize

    canon = _canonicalize(pdf)
    h = hashlib.sha256(repr((list(canon.columns), len(canon))).encode())
    h.update(pd.util.hash_pandas_object(canon, index=False).values.tobytes())
    return h.hexdigest()


def oracle_digests(sql: dict[str, str], sf_dir: str,
                   cache: str) -> dict[str, str]:
    """``frame_digest`` of each DuckDB query over the ``sf_dir`` views.

    The digests depend only on the SQL, the data files and the library
    versions, so they are kept in ``cache`` under a key of all three and
    computed by the first run in a checkout.  No timed phase includes
    them either way."""
    import duckdb
    import pandas as pd

    from energy_emissions_lakehouse_spark.oracle import duckdb_connection
    from energy_emissions_lakehouse_spark.tables import TABLES

    files = []
    for name in TABLES:
        st = os.stat(os.path.join(sf_dir, f"{name}.parquet"))
        files.append((name, st.st_size, st.st_mtime_ns))
    key = hashlib.sha256(json.dumps(
        [sorted(sql.items()), files, duckdb.__version__, pd.__version__]
    ).encode()).hexdigest()[:24]
    path = os.path.join(cache, f"oracle-{key}.json")
    if os.path.isfile(path):
        with open(path) as fh:
            return json.load(fh)
    con = duckdb_connection(sf_dir)
    try:
        out = {n: frame_digest(con.execute(q).df()) for n, q in sql.items()}
    finally:
        con.close()
    os.makedirs(cache, exist_ok=True)
    tmp = f"{path}.{os.getpid()}"
    with open(tmp, "w") as fh:
        json.dump(out, fh)
    os.replace(tmp, path)
    return out


def _digest_check(expected: str):
    def check(pdf):
        got = frame_digest(pdf)
        if got != expected:
            return (f"result digest {got[:12]} != oracle {expected[:12]} "
                    f"({len(pdf)} rows)")
        return None
    return check


class QueryWorkload:
    """Registered queries, one op each, shuffled per pass by the seed."""

    shuffled = True

    def __init__(self, names: tuple[str, ...], warmup_passes: int,
                 passes: int):
        self.names = names
        self.warmup_passes = warmup_passes
        self.passes = passes

    def expect(self, sf_dir: str, seed: int, store: str, cache: str) -> None:
        from energy_emissions_lakehouse_spark.registry import all_specs

        self.specs = all_specs()
        self.expected = oracle_digests(
            {n: self.specs[n].oracle for n in self.names}, sf_dir, cache)

    def setup(self, spark, sf_dir: str) -> None:
        self.spark, self.sf_dir = spark, sf_dir

    def begin_timed(self) -> None:
        pass

    def ops(self, pass_no: int) -> list[Op]:
        return [self._op(n) for n in self.names]

    def _op(self, name: str) -> Op:
        build = self.specs[name].spark

        def run(tr):
            df = tr.build(lambda: build(self.spark, self.sf_dir))
            return tr.collect(df, df.toPandas)

        return Op(name, run, _digest_check(self.expected[name]))

    def layer_stats(self) -> dict[str, float]:
        return {}

    def close(self) -> None:
        pass


# lakehouse_write: the paper's ELT refresh and analysis SQL, then writes
# beside reads on a private versioned table.
#
# The table holds the orders whose key is 0 mod 8 (~19k rows).  Each cycle
# draws, from the seed and the cycle number, a block of consecutive keys
# that are 1 mod 8 (500 appended, 250 merged in as new) and two 0-mod-8 key
# ranges (250 merged as updates, 500 updated in place), and deletes the
# 1-mod-8 keys again.  Compact + vacuum end every cycle with the same live
# rows and one live file, so only the commit log grows over a run.

#: Content checksum, computed alike by Spark and DuckDB.
CHECKSUM = (
    "count(*)",
    "sum(o_orderkey)",
    "sum(o_custkey)",
    "sum(CAST(round(o_totalprice * 100) AS BIGINT))",
    "sum(o_orderkey * (CAST(round(o_totalprice * 100) AS BIGINT) % 9973))",
    "sum(length(o_orderstatus) * 100 + length(o_orderpriority))",
    "sum(year(o_orderdate) * 10000 + month(o_orderdate) * 100"
    " + day(o_orderdate))",
)
MEDALLION_STAGES = {
    "bronze": ("bronze_energy", "bronze_emissions"),
    "silver": ("silver_energy", "silver_emissions"),
    "gold": ("gold_energy_monthly", "gold_emissions_monthly",
             "gold_carbon_intensity"),
    "star": ("dim_region", "dim_energy_source", "dim_sector", "dim_time",
             "fact_energy_monthly", "fact_emissions_monthly",
             "fact_carbon_intensity"),
}
#: The paper's analysis queries: (registered name, medallion.analysis fn).
ANALYSIS = (
    ("medallion_analysis_q1", "q1_row_counts"),
    ("medallion_analysis_q2", "q2_monthly_intensity"),
    ("medallion_analysis_q3", "q3_top5_intensity_months"),
    ("medallion_analysis_q4", "q4_avg_consumption_by_source"),
    ("medallion_analysis_q5", "q5_emissions_vs_energy"),
    ("medallion_analysis_q6", "q6_null_intensity_rows"),
    ("medallion_analysis_q7", "q7_intensity_2024"),
)
KEY_MOD = 8
APPEND_ROWS, MERGE_NEW_ROWS, MERGE_UPDATE_ROWS, UPDATE_ROWS = 500, 250, 250, 500


def _tree_bytes(root: str) -> dict[str, int]:
    sizes = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            try:
                sizes[p] = os.path.getsize(p)
            except OSError:
                pass
    return sizes


def _key_range(tbl, residue: int) -> str:
    """SQL predicate selecting exactly ``tbl``'s rows among those whose key
    is ``residue`` mod KEY_MOD (``tbl`` is a key-sorted slice of them)."""
    keys = tbl["o_orderkey"]
    return (f"o_orderkey >= {keys[0].as_py()} AND o_orderkey <= "
            f"{keys[-1].as_py()} AND o_orderkey % {KEY_MOD} = {residue}")


class LakehouseWorkload:
    """Per pass, one cycle: medallion refresh, the analysis SQL over the
    refreshed star, vtable DML, read-after-write, compact + vacuum.

    The op order is fixed by data dependencies; the seed chooses the rows
    each cycle writes.  Each DML check applies the same change to a DuckDB
    mirror of the table, the independent expectation the reads are checked
    against."""

    shuffled = False

    def __init__(self, warmup_passes: int, passes: int):
        self.warmup_passes = warmup_passes
        self.passes = passes

    # ---------------------------------------------------------- set-up
    def expect(self, sf_dir: str, seed: int, store: str, cache: str) -> None:
        import duckdb
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        from energy_emissions_lakehouse_spark.medallion.sql_oracle import (
            with_pipeline,
        )
        from energy_emissions_lakehouse_spark.registry import all_specs

        self.seed, self.store = seed, store
        self.inputs = os.path.join(store, "inputs")
        os.makedirs(self.inputs)
        orders = pq.read_table(os.path.join(sf_dir, "orders.parquet"))
        orders = orders.sort_by("o_orderkey")
        residue = pc.bit_wise_and(orders["o_orderkey"], KEY_MOD - 1)
        self.base = orders.filter(pc.equal(residue, 0))
        self.pool = orders.filter(pc.equal(residue, 1))
        self.base_path = os.path.join(self.inputs, "base.parquet")
        pq.write_table(self.base, self.base_path)
        self.duck = duckdb.connect()
        specs = all_specs()
        sql = {name: with_pipeline(f"SELECT * FROM {name}")
               for names in MEDALLION_STAGES.values() for name in names}
        sql.update({name: specs[name].oracle for name, _ in ANALYSIS})
        self.expected = oracle_digests(sql, sf_dir, cache)
        self.stats: dict[str, float] = {}

    def setup(self, spark, sf_dir: str) -> None:
        from energy_emissions_lakehouse_spark.operators.vtable import (
            VersionedTable,
        )

        self.spark = spark
        self.cycle = 0
        self.root = os.path.join(self.store, "orders")
        self.vt = VersionedTable.create(
            spark, self.root, spark.read.parquet(self.base_path),
            enable_cdf=True)
        self.duck.execute("CREATE TABLE t AS SELECT * FROM "
                          f"read_parquet('{self.base_path}')")
        self.seen = _tree_bytes(self.root)

    def begin_timed(self) -> None:
        """Zero the storage counters for the measured cycles."""
        self.stats = dict.fromkeys((
            "vtable.bytes_written", "vtable.files_written",
            "vtable.submitted_bytes", "medallion.rows_written",
            "medallion.bytes_written"), 0.0)

    # ---------------------------------------------------------- one cycle
    def ops(self, pass_no: int) -> list[Op]:
        self.cycle += 1
        mdir = os.path.join(self.store, f"medallion_c{self.cycle}")
        layers: dict[str, Any] = {}
        ops = [Op(f"medallion.{stage}", self._medallion_run(stage, mdir, layers),
                  self._medallion_check(stage, mdir))
               for stage in MEDALLION_STAGES]
        ops += [self._analysis_op(name, fn, layers) for name, fn in ANALYSIS]
        return ops + self._dml_ops(mdir)

    def _analysis_op(self, name: str, fn: str, layers: dict) -> Op:
        from energy_emissions_lakehouse_spark.medallion import analysis

        query = getattr(analysis, fn)

        def run(tr):
            star = {n: layers[n] for n in MEDALLION_STAGES["star"]}
            df = tr.build(lambda: query(star))
            return tr.collect(df, df.toPandas)

        return Op(name, run, _digest_check(self.expected[name]))

    def _dml_ops(self, mdir: str) -> list[Op]:
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        c = self.cycle
        rng = random.Random(f"{self.seed}:{c}")
        block = rng.randrange(0, self.pool.num_rows
                              - APPEND_ROWS - MERGE_NEW_ROWS)
        appended = self.pool.slice(block, APPEND_ROWS)
        merged_new = self.pool.slice(block + APPEND_ROWS, MERGE_NEW_ROWS)
        upd = self.base.slice(
            rng.randrange(0, self.base.num_rows - MERGE_UPDATE_ROWS),
            MERGE_UPDATE_ROWS)
        upd = upd.set_column(
            upd.schema.get_field_index("o_totalprice"), "o_totalprice",
            pc.add(upd["o_totalprice"], 0.25 * (1 + c % 7)))
        cdir = os.path.join(self.inputs, f"c{c}")
        os.makedirs(cdir)
        a_path = os.path.join(cdir, "append.parquet")
        s_path = os.path.join(cdir, "merge.parquet")
        pq.write_table(appended, a_path)
        pq.write_table(pa.concat_tables([upd, merged_new]), s_path)
        submitted = os.path.getsize(a_path) + os.path.getsize(s_path)
        a_df = self.spark.read.parquet(a_path)
        s_df = self.spark.read.parquet(s_path)
        u_start = rng.randrange(0, self.base.num_rows - UPDATE_ROWS)
        update_cond = _key_range(self.base.slice(u_start, UPDATE_ROWS), 0)
        delete_cond = _key_range(appended, 1)
        mor_cond = _key_range(merged_new, 1)
        src = f"read_parquet('{s_path}')"
        in_src = f"o_orderkey IN (SELECT o_orderkey FROM {src})"

        vt, duck = self.vt, self.duck
        st: dict[str, Any] = {"changes": {}, "last": vt.latest_version()}

        def tally(kind: str, table: str, where: str) -> None:
            n, s = duck.execute(
                f"SELECT count(*), coalesce(sum(o_orderkey), 0) FROM {table} "
                f"WHERE {where}").fetchone()
            cnt, tot = st["changes"].get(kind, (0, 0))
            st["changes"][kind] = (cnt + n, tot + int(s))

        def commit(method, args, mirror=(), before=()):
            """A committing vtable op; its check mirrors it in DuckDB."""
            def run(tr):
                with tr.span(f"vtable.{method}"):
                    return getattr(vt, method)(*args)

            def check(version):
                self._count_writes()
                for kind, table, where in before:
                    tally(kind, table, where)
                for sql in mirror:
                    duck.execute(sql)
                st.setdefault("first", version)
                st[method] = version
                want, st["last"] = st["last"] + 1, version
                if version != want:
                    return f"{method} committed v{version}, expected v{want}"
                if method == "update_where":
                    st["at_update"] = self._expected_checksum()
                return None

            return Op(f"vtable.{method}", run, check)

        ops = [
            commit("append", (a_df,),
                   [f"INSERT INTO t SELECT * FROM read_parquet('{a_path}')"],
                   [("insert", f"read_parquet('{a_path}')", "true")]),
            commit("merge_upsert", (s_df, ["o_orderkey"]),
                   [f"DELETE FROM t WHERE {in_src}",
                    f"INSERT INTO t SELECT * FROM {src}"],
                   [("update_preimage", "t", in_src),
                    ("update_postimage", "t", in_src),
                    ("insert", src,
                     "o_orderkey NOT IN (SELECT o_orderkey FROM t)")]),
            commit("delete_where", (delete_cond,),
                   [f"DELETE FROM t WHERE {delete_cond}"],
                   [("delete", "t", delete_cond)]),
            commit("update_where",
                   (update_cond, {"o_totalprice": "o_totalprice + 1.0"}),
                   [f"UPDATE t SET o_totalprice = o_totalprice + 1.0 "
                    f"WHERE {update_cond}"],
                   [("update_preimage", "t", update_cond),
                    ("update_postimage", "t", update_cond)]),
            commit("delete_where_mor", (mor_cond,),
                   [f"DELETE FROM t WHERE {mor_cond}"],
                   [("delete", "t", mor_cond)]),
            Op("vtable.read", lambda tr: self._read(tr, vt.read),
               lambda got: _diff(got, self._expected_checksum())),
            Op("vtable.read_version",
               lambda tr: self._read(tr, lambda: vt.read(st["update_where"])),
               lambda got: _diff(got, st["at_update"])),
            Op("vtable.read_changes", lambda tr: self._changes(tr, st),
               lambda got: _diff(got, st["changes"])),
            commit("compact", ()),
        ]

        def vacuum_check(_):
            self._count_writes()
            self._add("vtable.submitted_bytes", submitted)
            shutil.rmtree(mdir, ignore_errors=True)
            d = vt.detail()
            if d["numLiveFiles"] != 1 or d["numDeletionVectors"]:
                return (f"cycle ended with {d['numLiveFiles']} live files "
                        f"and {d['numDeletionVectors']} deletion vectors")
            return None

        def vacuum(tr):
            with tr.span("vtable.vacuum"):
                return vt.vacuum(retain_last=1)

        return ops + [Op("vtable.vacuum", vacuum, vacuum_check)]

    # ---------------------------------------------------------- op bodies
    @staticmethod
    def _read(tr, read):
        with tr.span("vtable.read"):
            agg = read().selectExpr(*CHECKSUM)
            row = tr.collect(agg, lambda: agg.collect()[0])
        return tuple(int(v or 0) for v in row)

    def _changes(self, tr, st):
        from pyspark.sql import functions as F

        with tr.span("vtable.read_changes"):
            agg = self.vt.read_changes(
                st["first"], st["delete_where_mor"]
            ).groupBy("_change_type").agg(F.count(F.lit(1)),
                                          F.sum("o_orderkey"))
            rows = tr.collect(agg, agg.collect)
        return {r[0]: (int(r[1]), int(r[2])) for r in rows}

    def _medallion_run(self, stage: str, mdir: str, layers: dict):
        from energy_emissions_lakehouse_spark.medallion import (
            generate,
            gold,
            silver,
            star,
        )

        def write(name, df):
            path = os.path.join(mdir, name)
            df.coalesce(1).write.parquet(path)
            layers[name] = self.spark.read.parquet(path)

        def run(tr):
            with tr.span(f"medallion.{stage}"):
                if stage == "bronze":
                    write("bronze_energy", generate.bronze_energy(self.spark))
                    write("bronze_emissions",
                          generate.bronze_emissions(self.spark))
                elif stage == "silver":
                    write("silver_energy",
                          silver.clean_energy(layers["bronze_energy"]))
                    write("silver_emissions",
                          silver.clean_emissions(layers["bronze_emissions"]))
                elif stage == "gold":
                    se, sm = layers["silver_energy"], layers["silver_emissions"]
                    write("gold_energy_monthly", gold.energy_monthly(se))
                    write("gold_emissions_monthly", gold.emissions_monthly(sm))
                    write("gold_carbon_intensity",
                          gold.carbon_intensity(se, sm))
                else:
                    for name, df in star.build_star(
                            layers["gold_energy_monthly"],
                            layers["gold_emissions_monthly"],
                            layers["gold_carbon_intensity"]).items():
                        write(name, df)
            return stage

        return run

    def _medallion_check(self, stage: str, mdir: str):
        import pyarrow.parquet as pq

        def check(_):
            for name in MEDALLION_STAGES[stage]:
                path = os.path.join(mdir, name)
                got = frame_digest(self.duck.execute(
                    f"SELECT * FROM read_parquet('{path}/*.parquet')").df())
                if got != self.expected[name]:
                    return f"layer {name} differs from the DuckDB pipeline"
                for f in os.listdir(path):
                    if f.endswith(".parquet"):
                        p = os.path.join(path, f)
                        self._add("medallion.rows_written",
                                  pq.read_metadata(p).num_rows)
                        self._add("medallion.bytes_written",
                                  os.path.getsize(p))
            return None

        return check

    # ---------------------------------------------------------- accounting
    def _add(self, key: str, value: float) -> None:
        if key in self.stats:
            self.stats[key] += value

    def _count_writes(self) -> None:
        now = _tree_bytes(self.root)
        new = [p for p in now if p not in self.seen]
        self._add("vtable.files_written", len(new))
        self._add("vtable.bytes_written", sum(now[p] for p in new))
        self.seen = now

    def _expected_checksum(self) -> tuple:
        row = self.duck.execute(
            f"SELECT {', '.join(CHECKSUM)} FROM t").fetchone()
        return tuple(int(v or 0) for v in row)

    def layer_stats(self) -> dict[str, float]:
        """Storage counts of the measured cycles (per-layer metrics).  Both
        amplifications divide by pyarrow's parquet size of the rows: those
        submitted (write) and those live at the end (space)."""
        s = dict(self.stats)
        files = _tree_bytes(self.root)
        log = os.path.join(self.root, "_log") + os.sep
        s["vtable.log_bytes"] = sum(v for p, v in files.items()
                                    if p.startswith(log))
        s["vtable.live_files"] = self.vt.detail()["numLiveFiles"]
        s["vtable.commits"] = self.vt.latest_version()
        import pyarrow.parquet as pq

        live = os.path.join(self.store, "live.parquet")
        pq.write_table(self.duck.execute("SELECT * FROM t").arrow(), live)
        s["vtable.write_amp"] = (s["vtable.bytes_written"]
                                 / s.pop("vtable.submitted_bytes"))
        s["vtable.space_amp"] = sum(files.values()) / os.path.getsize(live)
        return s

    def close(self) -> None:
        self.duck.close()


def _diff(got, want) -> str | None:
    return None if got == want else f"got {got}, expected {want}"


#: name -> factory(warm-up passes, measured passes).  A run measures at
#: least ``passes`` whole passes, and more until ``--seconds`` are up; a
#: traced run measures exactly ``passes``, so its counts repeat exactly.
#: The counts are fixed, not adaptive, so that every run's set-up does the
#: same work; each run reports its measured/last-warm-up pass-time ratio as
#: ``steady_ratio``.  On a 4-core host the similarity passes took 18-30 s,
#: then 7-11, 6-9, 6-8, 6-8 s; the lakehouse cycles 20-27 s, then 12-16 s.
#: The budget (48 runs of both workloads in under an hour) leaves no room
#: for longer warm-ups.
WORKLOADS: dict[str, Callable[[], Any]] = {
    "similarity_search": lambda: QueryWorkload(SIMILARITY_SEARCH, 4, 2),
    "lakehouse_write": lambda: LakehouseWorkload(1, 2),
}
