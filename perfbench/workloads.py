"""The benchmark's workloads, their seeded inputs and the exact-KNN oracle.

Each workload is one closed loop: a single client thread issues the next
call only after the previous one returned. Inputs come from a seeded 64-d
Gaussian mixture (64 components); query vectors are held-out draws from
the same mixture. Every answer is checked against numpy exact top-k over
the rows visible at the time of the call.
"""

from __future__ import annotations

import os
import sys
import time
import traceback
from dataclasses import dataclass, field

import numpy as np

DIM = 64
COMPONENTS = 64
K = 10
# per workload: rows before the first write, rows written after it (in
# `batches` equal micro-batches, the first `warmup` of them untimed),
# reads before the first write batch and after each, held-out queries
# (the batch KNN-join runs all of them). A run's first write batches are
# slower per row than the ones after them (ingest 3.9 -> 3.0 ms per row
# after one batch; MERGE 1.2 -> 0.7 -> 0.4 ms per row over two).
SIZES = {
    "ann_ingest": dict(
        build=4000, write=1800, batches=3, warmup=1, reads=2, queries=64
    ),
    "sql_ivf": dict(
        build=4000, write=2400, batches=6, warmup=2, reads=1, queries=32
    ),
}
# the read-only phase alternates passes of PASS_QUERIES point queries with
# one batch KNN-join, so both kinds of sample spread over the whole phase
# rather than one short stretch of it; the passes cycle over POINT_QUERIES
# queries. The first pass and its join are an untimed warm-up (the first
# point queries of a run read 10-30% slower while the JVM compiles, the
# first join 1.5-2x); timed passes follow for `seconds`, at least
# MIN_PASSES of them.
POINT_QUERIES = 8
PASS_QUERIES = 4
MIN_PASSES = 3
TIE_TOL = 1e-9  # relative distance gap treated as a tie (fp summation order)


def mixture(seed: int, n: int) -> np.ndarray:
    """n float32 draws of the seeded mixture, returned as float64."""
    rng = np.random.default_rng(seed)
    centers = rng.normal(0.0, 1.0, (COMPONENTS, DIM)) * 1.5
    lab = rng.integers(0, COMPONENTS, n)
    out = centers[lab] + rng.normal(0.0, 1.0, (n, DIM))
    return out.astype(np.float32).astype(np.float64)


def exact_topk(corpus: np.ndarray, ids: np.ndarray, queries: np.ndarray, k: int = K):
    """(ids, distances) of the exact L2 top-k per query, ties broken by id."""
    out_i = np.empty((len(queries), k), dtype=np.int64)
    out_d = np.empty((len(queries), k))
    for lo in range(0, len(queries), 8):
        q = queries[lo : lo + 8]
        d = np.sqrt(((corpus[None, :, :] - q[:, None, :]) ** 2).sum(axis=2))
        for j in range(len(q)):
            order = np.lexsort((ids, d[j]))[:k]
            out_i[lo + j] = ids[order]
            out_d[lo + j] = d[j][order]
    return out_i, out_d


def _arrow_frame(spark, id_col: str, vec_col: str, ids, vecs):
    """DataFrame[id bigint, vec array<double>] from numpy, via one Arrow table."""
    import pyarrow as pa

    vecs = np.ascontiguousarray(vecs, dtype=np.float64)
    offsets = pa.array(np.arange(0, vecs.size + 1, vecs.shape[1], dtype=np.int32))
    table = pa.table(
        {
            id_col: pa.array(np.asarray(ids, dtype=np.int64)),
            vec_col: pa.ListArray.from_arrays(offsets, pa.array(vecs.ravel())),
        }
    )
    return spark.createDataFrame(table)


def cached(df):
    df = df.cache()
    df.count()
    return df


@dataclass
class Tally:
    """Operation outcomes, answer recall and timing samples of one run."""

    attempted: int = 0
    failed: int = 0
    recall: dict = field(default_factory=dict)  # (phase, query) -> recall
    samples: dict = field(default_factory=dict)  # metric -> [seconds]

    def fail(self, what: str) -> None:
        self.failed += 1
        print(f"perfbench: FAILED {what}", file=sys.stderr)

    def sample(self, name: str, seconds: float) -> None:
        self.samples.setdefault(name, []).append(seconds)

    def op(self, what: str, fn):
        """Run one operation; an exception counts as a failure."""
        self.attempted += 1
        try:
            return fn()
        except Exception:  # a failed operation is a result, not a crash
            traceback.print_exc()
            self.fail(what)
            return None

    def check_ann(self, key, got_ids, got_d, vis_vecs, oracle_ids) -> None:
        """An ANN answer is correct when it has k distinct visible ids in
        distance order with exact distances; its recall is recorded. Row i
        of ``vis_vecs`` is the vector of id i."""
        ok = len(got_ids) == K and len(set(got_ids)) == K
        ok = ok and all(0 <= i < len(vis_vecs) for i in got_ids)
        if ok:
            q = key[2]
            true = [float(np.sqrt(((vis_vecs[i] - q) ** 2).sum())) for i in got_ids]
            ok = all(abs(a - b) <= TIE_TOL * (1 + b) for a, b in zip(got_d, true))
            ok = ok and all(a <= b + TIE_TOL * (1 + b) for a, b in zip(got_d, got_d[1:]))
        if not ok:
            self.fail(f"ann answer {key[:2]}")
        self.recall[key[:2]] = len(set(got_ids) & set(oracle_ids.tolist())) / K

    def check_exact(self, what, got_ids, got_d, oracle_ids, oracle_d) -> None:
        """An exact answer must equal the oracle's ids; an id that differs
        only across a distance tie at the k-th place is accepted."""
        if [int(i) for i in got_ids] == [int(i) for i in oracle_ids]:
            return
        kth = oracle_d[-1]
        extra = set(int(i) for i in got_ids) ^ set(int(i) for i in oracle_ids)
        d_of = dict(zip((int(i) for i in got_ids), got_d))
        d_of.update(zip((int(i) for i in oracle_ids), oracle_d))
        if len(got_ids) == K and all(
            abs(d_of[i] - kth) <= TIE_TOL * (1 + kth) for i in extra
        ):
            return
        self.fail(what)


@dataclass
class Context:
    """What a workload needs: the live session, spans, outcomes, scratch."""

    spark: object
    rec: object  # spans.Recorder
    tally: Tally
    seconds: float
    workdir: str
    data: Data


@dataclass
class Data:
    """Seeded inputs of one workload, as numpy arrays and cached frames."""

    vecs: np.ndarray  # float64, all rows the workload ever writes
    ids: np.ndarray
    queries: np.ndarray  # float64 held-out draws
    build_rows: int
    write_batches: list  # [(ids, vecs)]
    write_warmup: int  # leading write batches left out of the timing
    reads: int  # reads per write round
    frames: dict = field(default_factory=dict)


def make_data(workload: str, seed: int) -> Data:
    s = SIZES[workload]
    per = s["write"] // s["batches"]
    merge = workload == "sql_ivf"
    # ann_ingest writes only new rows; a MERGE batch is half updates of live
    # keys (fresh vectors), half new keys
    n_new = s["write"] // 2 if merge else s["write"]
    n_upd = s["write"] - n_new
    rows = s["build"] + n_new
    x = mixture(seed, rows + n_upd + s["queries"])
    vecs, upd_vecs, queries = x[:rows], x[rows : rows + n_upd], x[rows + n_upd :]
    ids = np.arange(rows, dtype=np.int64)
    rng = np.random.default_rng(seed + 1)
    batches = []
    live = s["build"]
    for b in range(s["batches"]):
        if merge:
            half = per // 2
            upd = np.sort(rng.choice(live, half, replace=False)).astype(np.int64)
            new = ids[live : live + half]
            bv = np.concatenate([upd_vecs[b * half : (b + 1) * half], vecs[new]])
            batches.append((np.concatenate([upd, new]), bv))
            live += half
        else:
            batches.append((ids[live : live + per], vecs[live : live + per]))
            live += per
    return Data(vecs, ids, queries, s["build"], batches, s["warmup"], s["reads"])


def setup_frames(spark, data: Data) -> None:
    """Cache every DataFrame the workload reads: the part of set-up the
    timed phases must not pay."""
    f = data.frames
    nb = data.build_rows
    f["base"] = cached(
        _arrow_frame(spark, "id", "v", data.ids[:nb], data.vecs[:nb])
    )
    f["queries"] = cached(
        _arrow_frame(spark, "qid", "qv", np.arange(len(data.queries)), data.queries)
    )
    f["writes"] = [
        cached(_arrow_frame(spark, "id", "v", ids, vecs))
        for ids, vecs in data.write_batches
    ]


def dir_bytes(path: str) -> int:
    """Bytes of the files a save() wrote, checksum side files excluded."""
    total = 0
    for root, _dirs, files in os.walk(path):
        for name in files:
            if not name.endswith(".crc"):
                total += os.path.getsize(os.path.join(root, name))
    return total


def _read_only_passes(ctx: Context, one_query, one_batch) -> None:
    """``one_query(qi, timed)`` over PASS_QUERIES point queries, then
    ``one_batch(timed)``: a warm-up pass, then whole timed passes until
    ``seconds`` have elapsed (MIN_PASSES at least)."""
    passes = 0
    end = None
    while passes <= MIN_PASSES or time.perf_counter() < end:
        timed = passes > 0
        for j in range(PASS_QUERIES):
            one_query((passes * PASS_QUERIES + j) % POINT_QUERIES, timed)
        one_batch(timed)
        if not timed:
            end = time.perf_counter() + ctx.seconds
        passes += 1


# -- ann_ingest -------------------------------------------------------------


def ann_ingest(ctx: Context) -> dict:
    """Routed HNSW: build, read-only serving, then micro-batch ingest with
    point reads after each batch and a final batch KNN-join."""
    from bustub_vectordb_spark.index.hnsw import HNSWIndex
    from bustub_vectordb_spark.streaming.ann_ingest import IndexIngest

    d, rec, tally = ctx.data, ctx.rec, ctx.tally
    visible = d.build_rows
    extra = {}

    def oracle(qs):
        return exact_topk(d.vecs[:visible], d.ids[:visible], qs)

    t0 = time.perf_counter()
    with rec.span("hnsw.build_routed"):
        index = HNSWIndex.build_routed(
            d.frames["base"], "v", "id", shards=8, m=8, ef_construction=48
        )
        index.blobs.count()  # ready to serve: every shard graph built
    extra["build_s"] = time.perf_counter() - t0
    tally.attempted += 1

    def point(idx, phase, qi, metrics, truth_row):
        q = d.queries[qi].tolist()
        with rec.span("hnsw.rank_shards"):
            idx.rank_shards(q)  # the routing step the probe runs, timed alone

        def call():
            t = time.perf_counter()
            with rec.span("hnsw.probe"):
                rows = idx.probe(q, K, n_probe=2).collect()
            for m in metrics:
                tally.sample(m, time.perf_counter() - t)
            return rows

        rows = tally.op(f"hnsw.probe {phase}/{qi}", call)
        if rows is not None:
            tally.check_ann(
                (phase, qi, d.queries[qi]),
                [r["id"] for r in rows], [r["distance"] for r in rows],
                d.vecs[:visible], truth_row,
            )

    def batch(idx, phase, timed):
        def call():
            t = time.perf_counter()
            with rec.span("hnsw.search_batch"):
                rows = idx.search_batch(
                    d.frames["queries"], "qv", "qid", K, n_probe=2
                ).collect()
            if timed:
                tally.sample("batch", time.perf_counter() - t)
            return rows

        rows = tally.op(f"hnsw.search_batch {phase}", call)
        if rows is not None:
            _check_batch(tally, phase, rows, d, visible, batch_truth[0])

    truth_pts, _ = oracle(d.queries[:POINT_QUERIES])
    batch_truth = oracle(d.queries)
    _read_only_passes(
        ctx,
        lambda qi, timed: point(
            index, "serve", qi, ("point",) if timed else (), truth_pts[qi]
        ),
        lambda timed: batch(index, "serve", timed),
    )

    def reads(idx, rnd):
        qis = [(rnd * d.reads + j) % len(d.queries) for j in range(d.reads)]
        truth, _ = oracle(d.queries[qis])
        for j, qi in enumerate(qis):
            point(idx, f"ingest{rnd}", qi, ("rw", f"rw.round{rnd}"), truth[j])

    reads(index, 0)
    with rec.span("ann_ingest.open"):
        ingest = IndexIngest(index)
    rows_written = 0
    for b, frame in enumerate(d.frames["writes"]):

        def call(frame=frame, b=b):
            t = time.perf_counter()
            with rec.span("ann_ingest.batch"):
                ingest(frame, b)
            return time.perf_counter() - t

        took = tally.op(f"ann_ingest.batch {b}", call)
        if took is None:
            continue
        if b >= d.write_warmup:
            tally.sample("write", took / len(d.write_batches[b][0]))
        rows_written += len(d.write_batches[b][0])
        visible = d.build_rows + rows_written
        reads(ingest.index, b + 1)
    batch_truth = oracle(d.queries)
    batch(ingest.index, "final", timed=False)

    path = os.path.join(ctx.workdir, "saved_index")
    ingest.index.save(path)
    extra["index_bytes_per_vec"] = dir_bytes(path) / visible
    return extra


def _check_batch(tally, phase, rows, d, visible, truth) -> None:
    """Check a batch KNN-join's rows (qid, id, distance) query by query."""
    by_q: dict[int, list] = {}
    for r in rows:
        by_q.setdefault(int(r["qid"]), []).append((r["distance"], r["id"]))
    if sorted(by_q) != list(range(len(d.queries))):
        tally.fail(f"batch {phase}: answers for {len(by_q)} of {len(d.queries)} queries")
    for qi, hits in sorted(by_q.items()):
        hits.sort()
        tally.check_ann(
            (f"{phase}.batch", qi, d.queries[qi]),
            [h[1] for h in hits], [h[0] for h in hits],
            d.vecs[:visible], truth[qi],
        )


# -- sql_ivf ----------------------------------------------------------------


def _array_sql(q: np.ndarray) -> str:
    # repr round-trips the float64 value exactly through the SQL literal
    return "ARRAY[" + ", ".join(repr(float(x)) for x in q) + "]"


def sql_ivf(ctx: Context) -> dict:
    """SQL front end plus IVFFlat: DDL and bulk load, CREATE INDEX, ANN
    point queries planned by index selection, a batch KNN-join, then MERGE
    micro-batches with exact-KNN SQL reads between them."""
    from bustub_vectordb_spark.index.selection import plan_knn
    from bustub_vectordb_spark.sql import SqlEngine, rewrite

    d, rec, tally = ctx.data, ctx.rec, ctx.tally
    engine = SqlEngine(ctx.spark)
    nb = d.build_rows
    # the table as the oracle sees it: row per live id
    state = {int(i): d.vecs[n] for n, i in enumerate(d.ids[:nb])}
    extra = {}

    engine.execute("CREATE TABLE items (id BIGINT, v VECTOR(64))")
    engine.catalog.register("staging", d.frames["base"])
    t0 = time.perf_counter()
    with rec.span("sql.insert_select"):
        n = engine.execute("INSERT INTO items SELECT id, v FROM staging")
    with rec.span("sql.create_index"):
        engine.execute(
            "CREATE INDEX items_v ON items USING ivfflat (v vector_l2_ops) "
            "WITH (lists = 64, probe_lists = 4)"
        )
    extra["build_s"] = time.perf_counter() - t0
    tally.attempted += 1
    if n != nb:
        tally.fail(f"INSERT ... SELECT reported {n} rows, expected {nb}")
    index = engine.indexes.lookup("items", "v")[0].index
    vis_vecs, vis_ids = d.vecs[:nb], d.ids[:nb]

    truth_pts, _ = exact_topk(vis_vecs, vis_ids, d.queries[:POINT_QUERIES])

    def point(qi, timed):
        q = d.queries[qi].tolist()
        with rec.span("ivfflat.rank_buckets"):
            index.rank_buckets(q)  # the routing step the probe runs, timed alone

        def call():
            t = time.perf_counter()
            with rec.span("selection.plan_knn"):
                plan = plan_knn(
                    engine.indexes, "items", engine.catalog.table("items"), "v", q, K
                )
            with rec.span("selection.collect"):
                rows = plan.df.collect()
            if timed:
                tally.sample("point", time.perf_counter() - t)
            if plan.strategy != "vector_index_scan(ivfflat)":
                raise RuntimeError(f"index selection chose {plan.strategy}")
            return rows

        rows = tally.op(f"plan_knn {qi}", call)
        if rows is not None:
            tally.check_ann(
                ("serve", qi, d.queries[qi]),
                [r["id"] for r in rows], [r["distance"] for r in rows],
                vis_vecs, truth_pts[qi],
            )

    truth_batch, _ = exact_topk(vis_vecs, vis_ids, d.queries)

    def batch(timed):
        def call():
            t = time.perf_counter()
            with rec.span("ivfflat.probe_batch"):
                rows = index.probe_batch(
                    d.frames["queries"], "qv", "qid", K
                ).select("qid", "id", "distance").collect()
            if timed:
                tally.sample("batch", time.perf_counter() - t)
            return rows

        rows = tally.op("ivfflat.probe_batch", call)
        if rows is not None:
            _check_batch(tally, "serve", rows, d, nb, truth_batch)

    _read_only_passes(ctx, point, batch)

    def knn_sql(qi):
        return (
            f"SELECT id, v <-> {_array_sql(d.queries[qi])} AS d FROM items "
            f"ORDER BY d, id LIMIT {K}"
        )

    def reads(rnd):
        ids = np.fromiter(state.keys(), dtype=np.int64)
        vecs = np.stack(list(state.values()))
        qis = [(rnd * d.reads + j) % len(d.queries) for j in range(d.reads)]
        truth_i, truth_d = exact_topk(vecs, ids, d.queries[qis])
        for j, qi in enumerate(qis):
            sql = knn_sql(qi)
            with rec.span("sql.rewrite"):
                rewrite(sql)  # the dialect rewrite execute() runs, timed alone

            def call(sql=sql):
                t = time.perf_counter()
                with rec.span("sql.select_knn"):
                    rows = engine.execute(sql).collect()
                took = time.perf_counter() - t
                tally.sample("rw", took)
                tally.sample(f"rw.round{rnd}", took)
                return rows

            rows = tally.op(f"select_knn merge{rnd}/{qi}", call)
            if rows is not None:
                tally.check_exact(
                    f"select_knn merge{rnd}/{qi}",
                    [r["id"] for r in rows], [r["d"] for r in rows],
                    truth_i[j], truth_d[j],
                )

    # untimed warm-up: the first exact SQL query compiles its plan
    engine.execute(knn_sql(0)).collect()
    reads(0)
    for b, frame in enumerate(d.frames["writes"]):
        src = f"delta{b}"
        engine.catalog.register(src, frame)

        def call(src=src):
            t = time.perf_counter()
            with rec.span("sql.merge"):
                n = engine.execute(
                    f"MERGE INTO items USING {src} ON items.id = {src}.id "
                    "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
                )
            return n, time.perf_counter() - t

        out = tally.op(f"sql.merge {b}", call)
        if out is None:
            continue
        n, took = out
        ids, vecs = d.write_batches[b]
        if n != len(ids):
            tally.fail(f"MERGE {b} reported {n} rows, expected {len(ids)}")
        if b >= d.write_warmup:
            tally.sample("write", took / len(ids))
        state.update((int(i), v) for i, v in zip(ids, vecs))
        reads(b + 1)

    path = os.path.join(ctx.workdir, "saved_index")
    index.save(path)
    extra["index_bytes_per_vec"] = dir_bytes(path) / nb
    return extra


WORKLOADS = {"ann_ingest": ann_ingest, "sql_ivf": sql_ivf}
