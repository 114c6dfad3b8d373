"""The three workloads, each as a builder of one pass's operation list.

An operation is construction (`construct`, driver side) plus an action
(`act`), timed together; its check runs afterwards, untimed. Builders take
a `random.Random` seeded from the workload seed and the pass number: the
seed sets the order of operations and the parameters of direct API calls,
never which operations run.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field
from typing import Any, Callable

LAKE_READ_QUERIES = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "q10_returned_items",
    "q18_large_volume_customer",
    "snapshot_mor_dv_read_bench",
    "snapshot_runtime_prune",
    "pyds_facade_scan",
    "snapshots_metadata_table",
    "stream_tumbling_counts",
)
LLM_QUERIES = (
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_cluster_pick",
    "dedup_semdedup",
    "simsearch_bruteforce_topk",
    "simsearch_ivf",
    "text_kneser_ney_bigram",
    "text_quality_score",
    "graph_triangle_count",
    "pipeline_corpus_build",
)
STREAM_SINK = "stream_sink_snapshot_table"
PYDS_QUERIES = {"pyds_facade_scan"}
STREAM_QUERIES = {"stream_tumbling_counts", STREAM_SINK}

#: slices of lineitem appended as separate snapshots (by l_orderkey % N)
N_SLICES = 4
N_BUCKETS = 16
N_LOOKUPS = 4
#: the merge slice is l_orderkey % MERGE_MOD == r, about 1% of rows
MERGE_MOD = 97

LAKE_READ_DIRECT = ("lookup", "time_travel", "pyds_lookup")
LAKE_WRITE_DIRECT = (
    "append",
    "delete_cow",
    "delete_mor",
    "delete_dv",
    "merge_upsert",
    "compact",
    "expire_snapshots",
)
OP_NAMES = {
    "lake_read": LAKE_READ_QUERIES + LAKE_READ_DIRECT,
    "lake_write": LAKE_WRITE_DIRECT + (STREAM_SINK,),
    "llm_pipeline": LLM_QUERIES,
}


@dataclass
class Op:
    name: str
    construct: Callable[[], Any]
    act: Callable[[Any], Any]
    check: Callable[[Any], list[str]]
    #: span of the construction: operators.construct, or streaming.query
    #: for streaming queries, which run the stream while being built
    construct_span: str = "operators.construct"
    #: span of the action: execution.execute, pyds.scan or a commit
    act_span: str = "execution.execute"
    #: the handle is a DataFrame whose plan the traced run inspects
    plan: bool = True
    #: traced-only scan-planning probe: returns (files_live, files_kept)
    probe: Callable[[], tuple[int, int]] | None = None
    #: table directory whose new bytes are counted as written by this op
    writes_to: str | None = None
    params: dict = field(default_factory=dict)


@dataclass
class Ctx:
    spark: Any
    sf_dir: str
    work: str
    oracles: Any
    tracer: Any
    queries: dict
    input_bytes: int = 0
    n_orders: int = 0
    table: Any = None
    table_loc: str = ""
    snapshot_ids: list = field(default_factory=list)
    #: bytes the set-up commits wrote (lake_read builds its table there)
    setup_written: int = 0


def dir_files(path: str) -> dict[str, tuple[int, tuple]]:
    """{path: (size, identity)} of every file under `path`; the identity
    (inode, mtime) tells a rewritten file from an untouched one."""
    out = {}
    for d, _, files in os.walk(path):
        for name in files:
            p = os.path.join(d, name)
            try:
                st = os.stat(p)
            except OSError:
                continue
            out[p] = (st.st_size, (st.st_ino, st.st_mtime_ns))
    return out


def written_bytes(before: dict, after: dict) -> int:
    """Bytes of the files that are new or rewritten in `after`."""
    return sum(
        size
        for p, (size, ident) in after.items()
        if before.get(p, (0, None))[1] != ident
    )


def collect(df):
    """The timed action: an Arrow collect that consumes every output
    column (a count would let column pruning skip computed columns)."""
    return df.toPandas()


def _registry_op(ctx: Ctx, name: str) -> Op:
    stream = name in STREAM_QUERIES
    return Op(
        name=name,
        construct=lambda: ctx.queries[name](ctx.spark, ctx.sf_dir),
        act=collect,
        check=lambda pdf: ctx.oracles.compare(name, pdf),
        construct_span="streaming.query" if stream else "operators.construct",
        act_span="pyds.scan" if name in PYDS_QUERIES else "execution.execute",
    )


def _duck(ctx: Ctx, where: str) -> tuple[int, float]:
    n, q = ctx.oracles.scalar(
        "SELECT count(*), coalesce(sum(l_quantity), 0) FROM lineitem "
        f"WHERE {where}"
    )
    return int(n), float(q)


def _rows_match(ctx: Ctx, where: str, pdf) -> list[str]:
    n, q = _duck(ctx, where)
    got_n, got_q = len(pdf), float(pdf["l_quantity"].sum()) if len(pdf) else 0.0
    if got_n != n or abs(got_q - q) > 1e-6 * max(1.0, abs(q)):
        return [f"{where}: spark rows={got_n} sum={got_q} duckdb rows={n} sum={q}"]
    return []


def _key(ctx: Ctx, rnd) -> int:
    return rnd.randrange(ctx.n_orders)


# ---------------------------------------------------------------- lake_read


def setup_lake_read(ctx: Ctx) -> None:
    """A bucket(l_orderkey, 16) lineitem table, one snapshot per slice."""
    from pyspark.sql import functions as F

    from hiveberg_spark.sources import pyds
    from hiveberg_spark.sources.snapshot_table import SnapshotTable

    pyds.register(ctx.spark)
    ctx.table_loc = os.path.join(ctx.work, "lake_read_lineitem")
    ctx.table = SnapshotTable.create(
        ctx.spark,
        ctx.table_loc,
        partition_spec=[("bucket", "l_orderkey", N_BUCKETS)],
    )
    ctx.table.set_properties({"write.distribution.mode": "hash"})
    src = ctx.spark.read.parquet(os.path.join(ctx.sf_dir, "lineitem.parquet"))
    for i in range(N_SLICES):
        before = dir_files(ctx.table_loc)
        ctx.snapshot_ids.append(
            ctx.table.append(src.filter(F.col("l_orderkey") % N_SLICES == i))
        )
        ctx.setup_written += written_bytes(before, dir_files(ctx.table_loc))


def _plan_probe(ctx: Ctx, where: str | None, snapshot_id: int | None = None):
    def probe() -> tuple[int, int]:
        live = len(ctx.table.plan_files(None, snapshot_id=snapshot_id))
        kept = len(ctx.table.plan_files(where, snapshot_id=snapshot_id))
        return live, kept

    return probe


def lake_read_pass(ctx: Ctx, rnd) -> list[Op]:
    ops = [_registry_op(ctx, n) for n in LAKE_READ_QUERIES]
    for _ in range(N_LOOKUPS):
        where = f"l_orderkey = {_key(ctx, rnd)}"
        ops.append(
            Op(
                name="lookup",
                construct=lambda w=where: ctx.table.scan_where(w),
                act=collect,
                check=lambda pdf, w=where: _rows_match(ctx, w, pdf),
                probe=_plan_probe(ctx, where),
                params={"where": where},
            )
        )
    i = rnd.randrange(N_SLICES)
    sid = ctx.snapshot_ids[i]
    upto = f"l_orderkey % {N_SLICES} <= {i}"
    ops.append(
        Op(
            name="time_travel",
            construct=lambda: ctx.table.scan(snapshot_id=sid),
            act=collect,
            check=lambda pdf: _rows_match(ctx, upto, pdf),
            probe=_plan_probe(ctx, None, sid),
            params={"snapshot": i},
        )
    )
    where = f"l_orderkey = {_key(ctx, rnd)}"
    ops.append(
        Op(
            name="pyds_lookup",
            construct=lambda: ctx.spark.read.format("hiveberg")
            .option("virtual_column", "")
            .load(ctx.table_loc)
            .filter(where),
            act=collect,
            check=lambda pdf: _rows_match(ctx, where, pdf),
            act_span="pyds.scan",
            params={"where": where},
        )
    )
    rnd.shuffle(ops)
    return ops


# --------------------------------------------------------------- lake_write


class _WriteState:
    """Expected rows of the pass's table, kept in step with commits."""

    def __init__(self, ctx: Ctx, tbl):
        self.ctx, self.tbl = ctx, tbl
        self.appended: list[str] = []  # DuckDB filters of appended slices
        self.deleted: list[str] = []  # DuckDB filters of deleted rows
        self.inserted = 0  # rows the merge inserted under new keys

    def alive(self) -> str:
        """The fixture rows the table holds, as a DuckDB filter."""
        added = " OR ".join(f"({p})" for p in self.appended) or "false"
        return " AND ".join([f"({added})"] + [f"NOT ({d})" for d in self.deleted])

    def expect_rows(self) -> int:
        return _duck(self.ctx, self.alive())[0]

    def check_count(self) -> list[str]:
        with self.ctx.tracer.span("snapshot_table.count_rows"):
            got = self.tbl.count_rows()
        want = self.expect_rows() + self.inserted
        return [] if got == want else [f"count_rows={got}, expected {want}"]


def lake_write_pass(ctx: Ctx, rnd, pass_no: int) -> list[Op]:
    from pyspark.sql import functions as F

    from hiveberg_spark.sources.snapshot_table import SnapshotTable

    loc = os.path.join(ctx.work, f"lake_write_{pass_no}")
    tbl = SnapshotTable.create(
        ctx.spark, loc, partition_spec=[("bucket", "l_orderkey", N_BUCKETS)]
    )
    tbl.set_properties({"write.distribution.mode": "hash"})
    st = _WriteState(ctx, tbl)
    src = ctx.spark.read.parquet(os.path.join(ctx.sf_dir, "lineitem.parquet"))
    k = F.col("l_orderkey")
    merge_r = rnd.randrange(MERGE_MOD)

    def commit(name, construct, act, predicate_change, check_extra=None, **kw):
        def check(_):
            predicate_change()
            return st.check_count() + (check_extra() if check_extra else [])

        return Op(
            name=name,
            construct=construct,
            act=act,
            check=check,
            act_span=f"snapshot_table.{name}",
            plan=False,
            writes_to=loc,
            **kw,
        )

    appends = []
    for i in rnd.sample(range(N_SLICES), N_SLICES):
        pred = f"l_orderkey % {N_SLICES} = {i}"
        appends.append(
            commit(
                "append",
                lambda i=i: src.filter(k % N_SLICES == i),
                tbl.append,
                lambda p=pred: st.appended.append(p),
                params={"slice": i},
            )
        )

    keys = set()
    while len(keys) < 3:
        key = _key(ctx, rnd)
        if key % MERGE_MOD != merge_r:
            keys.add(key)
    deletes = []
    for (name, mode, vectors), key in zip(
        [
            ("delete_cow", "copy-on-write", "false"),
            ("delete_mor", "merge-on-read", "false"),
            ("delete_dv", "merge-on-read", "true"),
        ],
        sorted(keys),
    ):
        where = f"l_orderkey = {key}"

        # each delete sets the deletion-vector property itself, so the
        # position delete and the DV delete stay distinct in either order
        def construct(vectors=vectors):
            tbl.set_properties({"write.delete.vectors": vectors})
            return None

        deletes.append(
            commit(
                name,
                construct,
                lambda _h, w=where, m=mode: tbl.delete_where(w, mode=m),
                lambda w=where: st.deleted.append(w),
                params={"where": where},
            )
        )
    rnd.shuffle(deletes)

    def merge_source():
        part = src.filter(k % MERGE_MOD == merge_r).withColumn(
            "l_quantity", F.col("l_quantity") + 1
        )
        inserts = part.withColumn("l_orderkey", k + ctx.n_orders)
        return part.unionByName(inserts)

    def after_merge():
        st.inserted = _duck(ctx, f"l_orderkey % {MERGE_MOD} = {merge_r}")[0]

    maintenance = [
        commit(
            "merge_upsert",
            merge_source,
            lambda s: tbl.merge_upsert(s, keys=["l_orderkey", "l_linenumber"]),
            after_merge,
            params={"slice": merge_r},
        ),
        commit("compact", lambda: None, lambda _h: tbl.compact(), lambda: None),
        commit(
            "expire_snapshots",
            lambda: None,
            lambda _h: tbl.expire_snapshots(int(time.time() * 1000) + 1, retain_last=1),
            lambda: None,
            check_extra=lambda: _final_content(ctx, st, merge_r),
        ),
    ]
    ops = appends + deletes + maintenance
    ops.insert(rnd.randrange(len(ops) + 1), _registry_op(ctx, STREAM_SINK))
    return ops


def _final_content(ctx: Ctx, st: _WriteState, merge_r: int) -> list[str]:
    """Row count and quantity sum of the table after every commit."""
    from pyspark.sql import functions as F

    alive = st.alive()
    n, q = ctx.oracles.scalar(
        f"""
        WITH alive AS (SELECT * FROM lineitem WHERE {alive}),
        slice AS (SELECT * FROM lineitem WHERE l_orderkey % {MERGE_MOD} = {merge_r})
        SELECT count(*), sum(q) FROM (
          SELECT l_quantity AS q FROM alive
          WHERE l_orderkey % {MERGE_MOD} <> {merge_r}
          UNION ALL SELECT l_quantity + 1 FROM slice
          UNION ALL SELECT l_quantity + 1 FROM slice)
        """
    )
    row = st.tbl.scan(virtual_column=None).agg(
        F.count("*").alias("n"), F.sum("l_quantity").alias("q")
    ).collect()[0]
    if row["n"] != n or abs(float(row["q"]) - float(q)) > 1e-6 * abs(float(q)):
        return [f"final table rows={row['n']} sum={row['q']}, expected {n} {q}"]
    return []


# ------------------------------------------------------------- llm_pipeline


def llm_pass(ctx: Ctx, rnd) -> list[Op]:
    ops = [_registry_op(ctx, n) for n in LLM_QUERIES]
    rnd.shuffle(ops)
    return ops


def build_pass(workload: str, ctx: Ctx, rnd, pass_no: int) -> list[Op]:
    if workload == "lake_read":
        return lake_read_pass(ctx, rnd)
    if workload == "lake_write":
        return lake_write_pass(ctx, rnd, pass_no)
    return llm_pass(ctx, rnd)


def setup(workload: str, ctx: Ctx) -> None:
    if workload == "lake_read":
        setup_lake_read(ctx)
