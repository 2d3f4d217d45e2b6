"""The benchmark's workloads: ``lake`` and ``pipeline``.

Each workload makes its inputs from the seed, sets the program up and runs
one warm-up pass of its operations (both counted as set-up time, so the
first-use cost of each code path shows in ``setup_s`` and not in ``wall_s``),
runs a closed loop of operations from one client (timed), then checks every
result, warm-up included, outside the timed region. An operation is timed in two
parts: construct (building the DataFrame, including any eager work the
program does while building it) and action (collecting the result).
"""

from __future__ import annotations

import json
import os
import statistics
import time

import numpy as np
import pyarrow.parquet as pq

import datagen
import verify

HERE = os.path.dirname(os.path.abspath(__file__))
DIGESTS = os.path.join(HERE, "pipeline_digests.json")

K = 10
HOT_SHARE = 0.25            # share of vector reads that reuse a hot vector
N_HOT = 3
# every kind once per two rounds, so each run reads the same mix; the seed
# draws the order, the query vectors and which vector reads are hot
READ_MIX = ("knn", "hybrid_pre", "hybrid_post", "ann", "sql", "sql_star")
READS_PER_ROUND = 3
ROUND_S = 10.0              # seconds of --seconds per timed lake round
DELETE_EVERY = 2            # every second round deletes instead of upserting
PASS_S = 15.0               # seconds of --seconds per timed pipeline pass
PIPELINE_QUERIES = ("graph_triangles", "winnow_neardup", "jaccard_auto_heavy",
                    "minhash_neardup", "bm25_search")

SIZES = {
    False: {"rows": 3072, "dim": 384, "centroids": 16, "nprobe": 2,
            "fetch_k": 200, "batch_upd": 120, "batch_new": 80,
            "scale": "sf0.01"},
    True: {"rows": 400, "dim": 16, "centroids": 4, "nprobe": 1,
           "fetch_k": 60, "batch_upd": 20, "batch_new": 10,
           "scale": "sf0.001"},
}


def collect(df):
    return [tuple(r) for r in df.collect()]


def collect_with_columns(df):
    return df.columns, [tuple(r) for r in df.collect()]


class Run:
    """State of one run: the session, its inputs and every operation."""

    def __init__(self, spark, work: str, seed: int, seconds: int,
                 tiny: bool, tracer):
        self.spark, self.work, self.seed = spark, work, seed
        self.seconds, self.tiny, self.tracer = seconds, tiny, tracer
        self.size = SIZES[tiny]
        self.ops: list[dict] = []
        self.setup_s = 0.0
        self.extra: dict = {}        # workload-specific figures

    def setup(self, fn) -> None:
        """Run the program's set-up and add its time to ``setup_s``. It runs
        once per run: a second set-up in the same process would be warm, and
        would lengthen every run by several seconds."""
        with self.tracer.operation("setup", "setup"):
            t0 = time.perf_counter()
            fn()
            self.setup_s += time.perf_counter() - t0

    def op(self, kind: str, build, action=collect, check=None,
           timed: bool = True, warm: bool = False):
        """One operation. ``check(result)`` runs later, untimed. A ``warm``
        operation is part of the warm-up: untimed, its time is set-up."""
        timed = timed and not warm
        rec = {"id": f"op-{len(self.ops)}", "kind": kind, "timed": timed,
               "warm": warm, "ok": True, "error": None}
        out = None
        t0 = t1 = time.perf_counter()
        try:
            with self.tracer.operation(rec["id"], kind):
                t0 = time.perf_counter()
                with self.tracer.span("driver.construct", "driver"):
                    df = build()
                t1 = time.perf_counter()
                with self.tracer.span("driver.action", "driver"):
                    out = action(df) if action else df
        except Exception as e:            # a failed operation is a result
            rec["ok"], rec["error"] = False, f"{type(e).__name__}: {e}"[:300]
        t2 = time.perf_counter()
        rec.update(s=t2 - t0, construct_s=t1 - t0, action_s=t2 - t1)
        if warm:
            self.setup_s += t2 - t0
        rec["_out"], rec["_check"] = out, check
        self.ops.append(rec)
        return out

    def check_all(self) -> None:
        for rec in self.ops:
            check, out = rec.pop("_check"), rec.pop("_out")
            if rec["ok"] and check is not None:
                try:
                    reason = check(out)
                except Exception as e:
                    reason = f"check raised {type(e).__name__}: {e}"
                if reason:
                    rec["ok"], rec["error"] = False, f"wrong: {reason}"[:300]

    def timed(self, kinds: tuple[str, ...] | None = None) -> list[float]:
        return [r["s"] for r in self.ops if r["timed"]
                and (kinds is None or r["kind"] in kinds)]


def _p50(xs):
    return statistics.median(xs) if xs else 0.0


# -- lake ----------------------------------------------------------------------

SQL_TEMPLATES = (
    "SELECT label, grp, COUNT(*) AS n FROM corpus WHERE id % {m} <> {r} "
    "GROUP BY label, grp ORDER BY n DESC, label, grp LIMIT 15",
    "SELECT l_returnflag, l_linestatus, COUNT(*) AS n, "
    "SUM(l_quantity) AS qty, SUM(l_extendedprice) AS rev, "
    "AVG(l_discount) AS disc FROM lineitem "
    "WHERE l_shipdate <= TIMESTAMP '{day}' "
    "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus",
    "SELECT o_custkey, COUNT(*) AS n, SUM(o_totalprice) AS total "
    "FROM orders WHERE o_orderdate >= TIMESTAMP '{day}' "
    "GROUP BY o_custkey ORDER BY total DESC, o_custkey LIMIT 15",
    "SELECT n_name, COUNT(*) AS n, SUM(c_acctbal) AS bal FROM customer "
    "JOIN nation ON c_nationkey = n_nationkey WHERE c_mktsegment = '{seg}' "
    "GROUP BY n_name ORDER BY n DESC, n_name LIMIT 15",
)
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
STAR = ("lineitem", "orders", "customer", "nation")


class Table:
    """Replayed contents of the lake table: {id: (ver, label, grp, vector)}."""

    def __init__(self, rows: dict):
        self.rows = rows
        self.ids = np.array(sorted(rows), dtype=np.int64)
        self.vecs = np.stack([rows[int(i)][3] for i in self.ids])
        self.label = np.array([rows[int(i)][1] for i in self.ids])
        self.grp = np.array([rows[int(i)][2] for i in self.ids])
        self.ver = np.array([rows[int(i)][0] for i in self.ids])

    def arrow(self):
        return datagen.vector_table(self.ids, self.vecs, self.label,
                                    self.grp, self.ver)


def lake_plan(seed: int, sz: dict, n_rounds: int):
    """Every input of a lake run, and the replay of its writes: returns the
    table after each write (``states[0]`` is the loaded table) and the
    rounds. ``rounds[0]`` is the warm-up round, an upsert with its refresh
    and time-travel read but no other reads; ``n_rounds`` timed rounds
    follow."""
    rng = np.random.default_rng([seed, 3])
    n0, dim = sz["rows"], sz["dim"]
    centers = datagen.unit_rows(rng.standard_normal((16, dim)))
    vecs = datagen.clustered_vectors(rng, n0, dim, centers)
    label, grp = rng.integers(0, 10, n0), rng.integers(0, 5, n0)
    rows = {i: (0, int(label[i]), int(grp[i]), vecs[i]) for i in range(n0)}

    def query():
        c = centers[rng.integers(0, len(centers))]
        return [float(x) for x in
                datagen.unit_rows(c + datagen.SPREAD / np.sqrt(dim)
                                  * rng.standard_normal(dim))]

    hot = [query() for _ in range(N_HOT)]
    kinds = [READ_MIX[i % len(READ_MIX)]
             for i in range(n_rounds * READS_PER_ROUND)]
    rng.shuffle(kinds)
    vec_reads = [i for i, k in enumerate(kinds) if not k.startswith("sql")]
    hot_reads = set(rng.choice(vec_reads, round(HOT_SHARE * len(vec_reads)),
                               replace=False).tolist())
    states, rounds, next_id = [Table(rows)], [], n0
    n_sql = int(rng.integers(0, len(SQL_TEMPLATES) - 1))
    for r in range(n_rounds + 1):
        rnd = {}
        if r % DELETE_EVERY == DELETE_EVERY - 1:
            m = int(rng.integers(0, 29))
            rnd["delete"] = f"id % 29 = {m}"
            rows = {i: v for i, v in rows.items() if i % 29 != m}
        else:
            live = np.array(sorted(rows), dtype=np.int64)
            upd = rng.choice(live, min(sz["batch_upd"], len(live)),
                             replace=False)
            new = np.arange(next_id, next_id + sz["batch_new"])
            next_id += sz["batch_new"]
            bid = np.concatenate([upd, new])
            bv = datagen.clustered_vectors(rng, len(bid), dim, centers)
            bl, bg = rng.integers(0, 10, len(bid)), rng.integers(0, 5, len(bid))
            rnd["batch"] = datagen.vector_table(
                bid, bv, bl, bg, np.full(len(bid), r + 1, np.int64))
            rows = dict(rows)
            for n, i in enumerate(bid):
                rows[int(i)] = (r + 1, int(bl[n]), int(bg[n]), bv[n])
        states.append(Table(rows))
        rnd["refresh_q"] = query()
        reads = []
        for i in range((r - 1) * READS_PER_ROUND, r * READS_PER_ROUND) \
                if r else ():
            kind = kinds[i]
            rd = {"kind": kind}
            if kind == "sql_star":
                rd["kind"] = "sql"
                template = SQL_TEMPLATES[1 + n_sql % (len(SQL_TEMPLATES) - 1)]
                n_sql += 1
            elif kind == "sql":
                template = SQL_TEMPLATES[0]
            if kind.startswith("sql"):
                day = np.datetime64("1995-06-01") + int(rng.integers(0, 2000))
                rd["sql"] = template.format(
                    m=int(rng.integers(3, 13)), r=int(rng.integers(0, 3)),
                    day=str(day), seg=SEGMENTS[int(rng.integers(0, 5))])
            else:
                rd["hot"] = i in hot_reads
                rd["q"] = hot[int(rng.integers(0, N_HOT))] if rd["hot"] \
                    else query()
                rd["label"] = int(rng.integers(0, 10))
            reads.append(rd)
        rnd["reads"] = reads
        rnd["asof"] = int(rng.integers(0, r + 1))   # an earlier commit
        rounds.append(rnd)
    return states, rounds


def _walk(root: str) -> dict[str, int]:
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            out[p] = os.path.getsize(p)
    return out


def lake(run: Run) -> None:
    """Reads and keyed writes on one catalog table with a table-scoped IVF
    index: per round one upsert (or delete), an index refresh by patch, a
    seeded mix of exact, hybrid, ANN and SQL reads, and a time-travel read.
    The first round is the warm-up: the first refresh after the index build
    takes about three times as long as a later one."""
    import duckdb
    from pyspark.sql import functions as F

    from pydata_vector_search_spark import Engine
    from pydata_vector_search_spark.operators import knn

    sz, spark = run.size, run.spark
    n_rounds = max(2, round(run.seconds / ROUND_S))
    states, rounds = lake_plan(run.seed, sz, n_rounds)
    src = os.path.join(run.work, "corpus.parquet")
    pq.write_table(states[0].arrow(), src)
    for n, rnd in enumerate(rounds):
        if "batch" in rnd:
            rnd["path"] = os.path.join(run.work, f"batch{n}.parquet")
            pq.write_table(rnd["batch"], rnd["path"])
    tdir = os.path.join(run.work, "tables")
    datagen.write_tables(datagen.star_tables(sz["scale"]), tdir)
    root = os.path.join(run.work, "catalog")
    eng = Engine(spark, root)

    def setup():
        eng.ingest(spark.read.parquet(src), "corpus", key="id")
        eng.ann_index_create("corpus", "embedding",
                             num_centroids=sz["centroids"])
        for t in STAR:
            spark.read.parquet(os.path.join(tdir, f"{t}.parquet")) \
                 .createOrReplaceTempView(t)
    run.setup(setup)

    duck = duckdb.connect()
    for t in STAR:
        duck.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                 f"'{os.path.join(tdir, t + '.parquet')}'")

    def duck_rows(sql, state):
        duck.register("corpus", state.arrow())
        try:
            return duck.sql(sql).fetchall()
        finally:
            duck.unregister("corpus")

    commits = [eng.current_commit("corpus")]
    files = _walk(root)
    written = {"bytes": 0, "files": 0, "batch_bytes": 0}
    recalls: list[float] = []

    def account_files():
        nonlocal files
        now = _walk(root)
        new = now.keys() - files.keys()
        written["files"] += len(new)
        written["bytes"] += sum(now[p] for p in new)
        files = now

    for n, rnd in enumerate(rounds):
        st, warm = states[n + 1], n == 0
        if "delete" in rnd:
            run.op("delete", lambda: eng.delete_where("corpus", rnd["delete"]),
                   action=None, warm=warm)
        else:
            written["batch_bytes"] += rnd["batch"].nbytes
            run.op("commit", lambda: eng.upsert(
                "corpus", spark.read.parquet(rnd["path"])), action=None,
                warm=warm)
        commits.append(eng.current_commit("corpus"))
        account_files()
        d = verify.cosine_distances(st.vecs, rnd["refresh_q"])
        run.op("refresh", lambda: eng.ann_search(
                   "corpus", rnd["refresh_q"], k=K, on_stale="patch",
                   nprobe=sz["centroids"]).select("id", "_distance"),
               check=lambda rows, st=st, d=d:
                   verify.check_topk(rows, st.ids, d, K), warm=warm)
        account_files()
        for rd in rnd["reads"]:
            kind = rd["kind"]
            if kind == "sql":
                sql = rd["sql"]

                def build(sql=sql):
                    eng.catalog.create_view("corpus")
                    return eng.sql(sql)
                run.op("sql", build,
                       check=lambda rows, sql=sql, st=st: verify.check_rows(
                           rows, duck_rows(sql, st)))
                continue
            q, lab = rd["q"], rd["label"]
            d = verify.cosine_distances(st.vecs, q)
            mask = st.label == lab
            if kind == "knn":
                run.op(kind, lambda: eng.vector_search(
                           "corpus", "embedding", q, k=K)
                           .select("id", "_distance"),
                       check=lambda rows, st=st, d=d:
                           verify.check_topk(rows, st.ids, d, K))
            elif kind == "hybrid_pre":
                run.op(kind, lambda: eng.vector_search(
                           "corpus", "embedding", q, k=K,
                           filter=F.col("label") == lab)
                           .select("id", "_distance"),
                       check=lambda rows, st=st, d=d, m=mask:
                           verify.check_topk(rows, st.ids, d, K, m))
            elif kind == "hybrid_post":
                run.op(kind, lambda: knn.hybrid_search_postfilter(
                           eng.table("corpus"), "embedding", q,
                           F.col("label") == lab, k=K, fetch_k=sz["fetch_k"])
                           .select("id", "_distance"),
                       check=lambda rows, st=st, d=d, m=mask:
                           verify.check_postfilter(rows, st.ids, d, K,
                                                   sz["fetch_k"], m))
            else:
                def check_ann(rows, st=st, d=d):
                    recalls.append(verify.ann_recall(rows, st.ids, d, K))
                    return verify.check_ann(rows, st.ids, d, K)
                run.op(kind, lambda: eng.ann_search(
                           "corpus", q, k=K, nprobe=sz["nprobe"])
                           .select("id", "_distance"), check=check_ann)
        j = rnd["asof"]
        run.op("asof", lambda: eng.read_asof("corpus", commits[j])
                   .select("id", "ver"),
               check=lambda rows, j=j: verify.check_snapshot(
                   rows, dict(zip(states[j].ids.tolist(),
                                  states[j].ver.tolist()))), warm=warm)
        account_files()

    final = states[-1]

    def check_final(rows):
        want = dict(zip(final.ids.tolist(), final.ver.tolist()))
        reason = verify.check_snapshot([(r[0], r[1]) for r in rows], want)
        if reason:
            return reason
        for i, _ver, lab, g, vec in rows:
            f = final.rows[int(i)]
            if (lab, g) != f[1:3] or not np.array_equal(
                    np.asarray(vec, np.float32), f[3]):
                return f"id {i}: columns differ from the replay"
        return None
    run.op("snapshot", lambda: eng.table("corpus").select(
               "id", "ver", "label", "grp", "embedding"),
           check=check_final, timed=False)
    run.check_all()
    duck.close()

    reads = [rd for rnd in rounds for rd in rnd["reads"]]
    run.extra.update({
        "rounds": n_rounds,
        "reads": len(reads),
        "hot_share": HOT_SHARE,
        "hot_reads": sum(1 for rd in reads if rd.get("hot")),
        "read.knn_p50_s": _p50(run.timed(("knn",))),
        "read.hybrid_p50_s": _p50(run.timed(("hybrid_pre", "hybrid_post"))),
        "read.ann_p50_s": _p50(run.timed(("ann",))),
        "read.sql_p50_s": _p50(run.timed(("sql",))),
        "read.asof_p50_s": _p50(run.timed(("asof",))),
        "write.commit_p50_s": _p50(run.timed(("commit", "delete"))),
        "write.refresh_p50_s": _p50(run.timed(("refresh",))),
        "ann.recall_at_10": statistics.mean(recalls) if recalls else 0.0,
        "catalog.bytes_written": written["bytes"],
        "catalog.files_written": written["files"],
        "catalog.write_amp": written["bytes"] / max(written["batch_bytes"], 1),
        "catalog.space_amp": sum(_walk(root).values()) / final.arrow().nbytes,
    })


# -- pipeline ------------------------------------------------------------------

def pipeline(run: Run) -> None:
    """The LLM-data-pipeline batch: declared queries in a fixed order over
    fixed tables, each checked against its DuckDB oracle's row digest. The
    first pass is the warm-up: cold, it costs nearly twice a warm pass."""
    import __spark_entry__ as entry

    scale = run.size["scale"]
    tdir = os.path.join(run.work, "tables")
    datagen.write_tables(datagen.star_tables(scale), tdir)
    with open(DIGESTS) as f:
        want = json.load(f)[scale]
    queries = entry.queries()
    n_passes = max(1, round(run.seconds / PASS_S))
    for n in range(n_passes + 1):
        for name in PIPELINE_QUERIES:
            run.op(name, lambda: queries[name](run.spark, tdir),
                   action=collect_with_columns,
                   check=lambda out, name=name: verify.check_digest(
                       out[0], out[1], want[name]), warm=n == 0)
    run.extra["passes"] = n_passes
    run.check_all()


WORKLOADS = {"lake": lake, "pipeline": pipeline}
