"""Link-graph operators for crawl prioritization.

``pagerank``: the classic authority score over a ``(src, dst)`` edge
table — the standard crawl-frontier prioritization signal (feed the
ranks into ``schedule_fetches(priority_col=)`` and high-authority
pages fetch first). Damped power iteration with dangling-mass
redistribution:

    PR_{k+1}(v) = (1-d)·p(v) + d · ( Σ_{(u,v)∈E} PR_k(u)/outdeg(u)
                                     + dangling_k · p(v) )

where ``dangling_k`` is the total rank of nodes with no out-edges and
``p`` is the teleport vector — uniform ``1/N`` by default, or a
normalized seed-node vector for PERSONALIZED PageRank (rank authority
relative to a trusted seed set; nodes outside the seed set get zero
teleport mass and are reachable only through links). Duplicate edges
contribute once per occurrence (multiset semantics, matching what
``extract_links`` emits for repeated links).

Recrawl shape: ``against_ranks=`` WARM-STARTS the iteration from a
previously stored ranks table instead of the uniform vector — after
incremental edge ingest (a recrawl cycle adds a few percent of edges),
the old ranks are already near the new fixed point, so convergence
takes a fraction of the cold-start iterations. Pair with ``tol=`` to
stop at measured convergence (L1 delta between successive rank
vectors) rather than a fixed iteration count; the iterations actually
run are reported on the result as ``.pagerank_iterations``. Full
recompute per crawl cycle at 100 TB is the anti-pattern this removes.

Scale shape: the edge table joins RANKS (node-sized) to EDGES
(edge-sized) once per iteration — a standard Pregel-style loop of k
hash joins + k map-combined groupBys; each step's ranks persist (and
the superseded step unpersists), with a ``localCheckpoint`` every
8th step to truncate the logical chain — persist alone keeps full
lineage and makes per-step planning O(k) (fatal for tol= runs of
many iterations), while checkpointing every step pays block
serialization per iteration (~1.5x on the 2M-edge probe). The only
driver-side
work per iteration is the dangling-mass SCALAR fold (plus one more
scalar per step when ``tol`` is set). Deterministic up to float
summation order; the oracle gate compares at 1e-6, far above the
~1e-15 relative reorder error.

No reference analog; net-new crawl capability like robots/urlops.

Concurrency: for small graphs (n <= 100k) the iteration loop disables
AQE session-wide (measured ~0.8 s of scheduling overhead otherwise).
The toggle is skipped when any other Spark job is in flight and is
serialized against concurrent pagerank calls, so it never perturbs
running work — but a query SUBMITTED by another thread while the loop
runs would plan AQE-off; callers needing AQE mid-flight should run
pagerank on its own session.
"""

from __future__ import annotations

import threading

from pyspark.sql import functions as F

from ..table import Table

__all__ = ["pagerank"]

# Guards the small-graph AQE toggle: SQL confs are SESSION-scoped in
# Spark, so flipping spark.sql.adaptive.enabled is visible to every
# query planned on the session while the iteration loop runs. The lock
# serializes concurrent pagerank calls' save/restore (a reentrant
# second call would otherwise restore the wrong value), and the
# active-job gate below skips the toggle entirely when anything else is
# running on the context — correctness is never at stake (AQE on is
# merely slower for the tiny-graph loop), so when in doubt we leave the
# conf alone.
_AQE_TOGGLE_LOCK = threading.Lock()


# Driver fast-path bounds — DATA-derived, not core-count-derived. The
# collected state is node ids + two float64 vectors + an edge index
# triple: at the caps that is tens of MB, far under any sane driver
# heap, and the caps are checked from measured counts BEFORE anything
# is collected (a graph over either bound never ships a row).
_DRIVER_MAX_NODES = 100_000
_DRIVER_MAX_EDGE_ROWS = 500_000


def _driver_pagerank(
    table,
    edges,
    nodes_raw,
    n: int,
    n_dang: int,
    iterations: int,
    d: float,
    tol,
    node_out: str,
    rank_out: str,
    against_ranks,
    personalization,
    weight_col: str,
):
    """Run the power iteration in numpy when the graph provably fits on
    the driver; return None to fall through to the distributed loop.

    Mirrors the distributed semantics exactly: per-occurrence edge
    contributions, dangling mass through the teleport vector,
    personalization weights NULL->0 and normalized over seeds present
    in the graph (ValueError when that sum is <= 0), warm-start ranks
    NULL->1/n renormalized over the current node set (ValueError when
    their sum is <= 0), tol as strict L1 < tol checked after each step.
    """
    import numpy as np

    from ..session import small_df

    # both collects are proven bounded by the caller's fused count job
    # (one plain single-job collect each; a limit() probe here would
    # run Spark's INCREMENTAL collect-limit — several jobs per call)
    node_rows = nodes_raw.collect()
    idx = {r[0]: i for i, r in enumerate(node_rows)}
    dang_mask = np.fromiter(
        (bool(r[1]) for r in node_rows), dtype=bool, count=len(node_rows)
    )
    deg = np.fromiter(
        (float(r[2]) for r in node_rows), dtype=np.float64, count=len(node_rows)
    )

    # teleport vector
    if personalization is None:
        p = np.full(n, 1.0 / n)
    else:
        pdf_rows = personalization._require_df().select(
            F.col(personalization.fields[0]),
            F.col(weight_col).cast("double"),
        ).collect()
        in_graph = [r for r in pdf_rows if r[0] in idx]
        if len({r[0] for r in in_graph}) != len(in_graph):
            # duplicate seed keys: the join-based path duplicates node
            # rows (degenerate input) — preserve that behavior verbatim
            return None
        w = np.zeros(n)
        for node, wt in in_graph:
            w[idx[node]] = 0.0 if wt is None else float(wt)
        psum = float(w.sum())
        if psum <= 0:
            raise ValueError(
                "pagerank: no personalization seed with positive weight "
                "appears in the graph"
            )
        p = w / psum

    # initial ranks
    if against_ranks is None:
        r = np.full(n, 1.0 / n)
        dangling = n_dang * (1.0 / n)
    else:
        adf_rows = against_ranks._require_df().select(
            F.col(against_ranks.fields[0]),
            F.col(against_ranks.fields[1]).cast("double"),
        ).collect()
        in_graph = [row for row in adf_rows if row[0] in idx]
        if len({row[0] for row in in_graph}) != len(in_graph):
            return None
        r0 = np.full(n, 1.0 / n)
        for node, rv in in_graph:
            if rv is not None:
                r0[idx[node]] = float(rv)
        rsum = float(r0.sum())
        if rsum <= 0:
            raise ValueError("pagerank: against_ranks sums to zero")
        r = r0 / rsum
        dangling = float(r[dang_mask].sum())

    edge_rows = edges.collect()
    ui = np.fromiter(
        (idx[row[0]] for row in edge_rows), dtype=np.int64, count=len(edge_rows)
    )
    vi = np.fromiter(
        (idx[row[1]] for row in edge_rows), dtype=np.int64, count=len(edge_rows)
    )

    steps = 0
    for _ in range(iterations):
        contrib = np.zeros(n)
        np.add.at(contrib, vi, r[ui] / deg[ui])
        new_r = (1.0 - d) * p + d * (contrib + dangling * p)
        steps += 1
        delta = float(np.abs(new_r - r).sum()) if tol is not None else None
        dangling = float(new_r[dang_mask].sum())
        r = new_r
        if tol is not None and delta < tol:
            break

    node_type = nodes_raw.schema[node_out].dataType
    from pyspark.sql import types as SQLT

    schema = SQLT.StructType(
        [
            SQLT.StructField(node_out, node_type, True),
            SQLT.StructField(rank_out, SQLT.DoubleType(), True),
        ]
    )
    out_rows = [(node_rows[i][0], float(r[i])) for i in range(n)]
    out = Table.from_df(
        small_df(table.spark, out_rows, schema),
        name=f"{table.table_name}_pagerank",
    )
    out.pagerank_iterations = steps
    return out


def _aqe_toggle_allowed(spark) -> bool:
    """True when it is safe to flip the session-wide AQE conf: no other
    Spark jobs in flight on this context (their re-planned stages would
    silently lose AQE coalescing/skew handling — e.g. ingest_batch's
    write pool). Queries STARTED by other threads mid-loop still see
    the toggled conf; callers mixing pagerank with concurrent work on
    the same session keep AQE by virtue of this gate only when their
    jobs overlap the check — the docstring documents the contract."""
    try:
        return not spark.sparkContext.statusTracker().getActiveJobsIds()
    except Exception:
        return False


def pagerank(
    table: Table,
    src_col: str = "src",
    dst_col: str = "dst",
    iterations: int = 10,
    damping: float = 0.85,
    node_out: str = "node",
    rank_out: str = "rank",
    against_ranks: Table | None = None,
    personalization: Table | None = None,
    weight_col: str = "weight",
    tol: float | None = None,
) -> Table:
    """Rank every node of the edge table: ``(node, rank)``, ranks
    summing to 1. Nodes appearing only as destinations rank too;
    dangling nodes (no out-edges) redistribute their mass through the
    teleport vector.

    ``against_ranks``: a prior ``(node, rank)`` table (this function's
    own output, round-tripped through parquet) — iteration starts from
    those ranks (renormalized over the CURRENT node set; nodes new to
    the graph start at ``1/N``) instead of uniform. ``personalization``:
    a ``(node, weight)`` seed table; teleport mass lands on seeds
    proportionally to weight (normalized over seeds present in the
    graph) instead of uniformly. ``tol``: stop as soon as the L1
    distance between successive rank vectors drops below it (at most
    ``iterations`` steps); the result Table carries the realized step
    count as ``.pagerank_iterations``.
    """
    if iterations < 1:
        raise ValueError("pagerank: iterations must be >= 1")
    _AQE_KEY = "spark.sql.adaptive.enabled"
    aqe_prev = None
    aqe_locked = False
    # every frame this call persists, released in the ONE finally below
    # on every exit — result, fast path, or error (the per-iteration
    # rank frames are released by the loop itself)
    persisted: list = []
    try:
        df = table._require_df()
        edges = (
            df.select(
                F.col(src_col).alias("__src__"), F.col(dst_col).alias("__dst__")
            )
            .where(F.col(src_col).isNotNull() & F.col(dst_col).isNotNull())
            .persist()
        )
        persisted.append(edges)
        # Node table in ONE map-combined aggregation (no distinct + no
        # broadcast join — two shuffles and an exchange fewer than the old
        # union/distinct/left-join shape): explode each edge into its two
        # endpoints with a source flag; the flag-sum per node IS the
        # out-degree, and degree 0 IS the dangling flag. The
        # degree column rides along so (a) the scalar probe below derives
        # the total edge-row count for free, (b) the driver fast path reads
        # per-node degrees off the collected rows, and (c) the distributed
        # loop's out-degree side derives from this same cached frame
        # instead of re-aggregating the edges.
        nodes_raw = (
            edges.select(
                F.explode(
                    F.array(
                        F.struct(
                            F.col("__src__").alias(node_out),
                            F.lit(1).alias("__one__"),
                        ),
                        F.struct(
                            F.col("__dst__").alias(node_out),
                            F.lit(0).alias("__one__"),
                        ),
                    )
                ).alias("__e__")
            )
            .select("__e__.*")
            .groupBy(node_out)
            .agg(F.sum("__one__").alias("__deg__"))
            .select(
                node_out, (F.col("__deg__") == 0).alias("__dang__"), "__deg__"
            )
            .persist()
        )
        persisted.append(nodes_raw)
        outdeg = nodes_raw.where(F.col("__deg__") > 0).select(
            F.col(node_out).alias("__src__"), "__deg__"
        )
        # ONE fused scalar job: node count + dangling-node count + total
        # edge-row count (sum of out-degrees) — everything both the fast
        # path's bound check and the distributed loop's literals need.
        nrow = nodes_raw.agg(
            F.count(F.lit(1)).alias("__n__"),
            F.sum(F.col("__dang__").cast("int")).alias("__nd__"),
            F.sum("__deg__").alias("__ne__"),
        ).collect()[0]
        n = nrow["__n__"]
        n_dang = int(nrow["__nd__"] or 0)
        n_edges = int(nrow["__ne__"] or 0)
        if n == 0:
            empty = nodes_raw.select(node_out).withColumn(
                rank_out, F.lit(None).cast("double")
            )
            out = Table.from_df(
                # materialize the empty frame before dropping the caches it
                # was derived from, so the returned Table holds no lineage
                # into unpersisted plans
                empty.sparkSession.createDataFrame([], empty.schema),
                name=f"{table.table_name}_pagerank",
            )
            out.pagerank_iterations = 0
            return out

        # Tiny-graph driver fast path (a scale-adaptive setting):
        # when BOTH the node count (known from the fused agg above) and the
        # raw edge-row count (one early-terminating limit+count over the
        # already-cached edge frame) are bounded, the whole iteration fits
        # comfortably in driver memory (<= ~20 MB of ids + float64 vectors)
        # and runs in numpy — zero per-iteration Spark jobs, zero
        # broadcast-exchange builds (the distributed loop pays ~5 scheduled
        # jobs PER ITERATION on a tiny graph, pure overhead). Numerically
        # this is the same damped power iteration with the same
        # dangling-mass redistribution; float summation ORDER differs
        # (~1e-15 relative), far below the oracle gate's 1e-6 rounding —
        # the same reorder tolerance the distributed loop already relies on
        # vs DuckDB. Degenerate inputs the join-based path handles
        # implicitly (duplicate node keys in personalization/against
        # tables) fall through to the distributed loop.
        if n <= _DRIVER_MAX_NODES and n_edges <= _DRIVER_MAX_EDGE_ROWS:
            fast = _driver_pagerank(
                table, edges, nodes_raw, n, n_dang, iterations,
                float(damping), tol, node_out, rank_out, against_ranks,
                personalization, weight_col,
            )
            if fast is not None:
                return fast

        # Distributed loop. For small node counts AQE's per-stage
        # materialization jobs (one scheduling round-trip per exchange, ~27
        # jobs for a 3-iteration run) dominate the actual work — measured
        # ~0.8 s of a ~3.4 s query at sf0.1. Disable AQE for the ITERATION
        # LOOP ONLY in that regime and restore it before returning; big
        # graphs (the 100 TB shape) keep AQE's coalescing and skew
        # handling. The threshold is node-count-derived (data-adaptive),
        # not a local core-count constant.
        # The toggle is skipped whenever other jobs are in flight or another
        # pagerank holds the lock (see _aqe_toggle_allowed) — the loop then
        # just runs with AQE on, trading a little scheduling overhead for
        # never perturbing concurrent queries' plans.
        small_graph = n <= 100_000
        if small_graph:
            aqe_locked = _AQE_TOGGLE_LOCK.acquire(blocking=False)
            if aqe_locked and _aqe_toggle_allowed(table.spark):
                try:
                    aqe_prev = table.spark.conf.get(_AQE_KEY)
                except Exception:
                    aqe_prev = "true"
                table.spark.conf.set(_AQE_KEY, "false")
            elif aqe_locked:
                _AQE_TOGGLE_LOCK.release()
                aqe_locked = False

        # teleport vector p(v): uniform 1/n stays a LITERAL (no extra
        # column shuffled through every iteration — the common case pays
        # nothing for the personalization feature); a personalization
        # table attaches a normalized per-node __p__ column
        if personalization is None:
            nodes = nodes_raw
            p_col = F.lit(1.0 / n)
            carry = [node_out, "__dang__"]
        else:
            pdf = personalization._require_df().select(
                F.col(personalization.fields[0]).alias(node_out),
                F.col(weight_col).cast("double").alias("__w__"),
            )
            # persist the SEEDED frame and let the psum fold materialize it
            # (it scans every partition); `nodes` is then a pure projection
            # over the cache — no dedicated persist+count job (guide §1.2)
            seeded = nodes_raw.join(pdf, node_out, "left").select(
                node_out,
                "__dang__",
                F.coalesce(F.col("__w__"), F.lit(0.0)).alias("__w__"),
            ).persist()
            persisted.append(seeded)
            psum = seeded.agg(F.sum("__w__")).collect()[0][0] or 0.0
            if psum <= 0:
                raise ValueError(
                    "pagerank: no personalization seed with positive weight "
                    "appears in the graph"
                )
            nodes = seeded.select(
                node_out,
                "__dang__",
                (F.col("__w__") / F.lit(psum)).alias("__p__"),
            )
            nodes_raw.unpersist()
            p_col = F.col("__p__")
            carry = [node_out, "__dang__", "__p__"]

        # per-edge contribution denominator attached once, reused every step;
        # persisted lazily — iteration 1 is the materializing scan (a
        # dedicated count() job here bought nothing: same total work, one
        # extra job of pure scheduling overhead — guide §1.2)
        edges_w = edges.join(outdeg, "__src__").persist()
        persisted.append(edges_w)
        d = float(damping)

        if against_ranks is None:
            # a pure projection over the cached node table — no persist/count
            # job of its own; iteration 1 derives it on the fly (guide §1.2:
            # don't pay a whole job to materialize a trivial projection)
            ranks = nodes.select(*carry, F.lit(1.0 / n).alias(rank_out))
        else:
            adf = against_ranks._require_df().select(
                F.col(against_ranks.fields[0]).alias(node_out),
                F.col(against_ranks.fields[1]).cast("double").alias("__r0__"),
            )
            warm = nodes.join(adf, node_out, "left").select(
                *carry,
                F.coalesce(F.col("__r0__"), F.lit(1.0 / n)).alias("__r0__"),
            )
            rsum = warm.agg(F.sum("__r0__")).collect()[0][0] or 0.0
            if rsum <= 0:
                raise ValueError("pagerank: against_ranks sums to zero")
            ranks = warm.select(
                *carry, (F.col("__r0__") / F.lit(rsum)).alias(rank_out)
            ).persist()

        ranks_cached = against_ranks is not None

        # dangling-mass fold between iterations: a filter+sum over the
        # (cached) rank source via the precomputed __dang__ flag — no
        # anti-join shuffle (the old shape shuffled the node table against
        # outdeg EVERY iteration just to find the dangling rows). For the
        # warm path the INITIAL fold doubles as the init-ranks cache
        # materializer (it scans every partition), replacing the old
        # dedicated count(); for the cold start the initial mass is pure
        # arithmetic — every dangling node holds exactly 1/n — so no job
        # runs at all (guide §1.2).
        def _dang_fold(frame) -> float:
            return (
                frame.where(F.col("__dang__"))
                .agg(F.coalesce(F.sum(rank_out), F.lit(0.0)))
                .collect()[0][0]
            )

        if against_ranks is None:
            dangling = n_dang * (1.0 / n)
        else:
            dangling = _dang_fold(ranks)

        steps = 0
        since_ckpt = 0
        for _ in range(iterations):
            contrib = (
                ranks.join(edges_w, ranks[node_out] == edges_w["__src__"])
                .select(
                    F.col("__dst__").alias(node_out),
                    (F.col(rank_out) / F.col("__deg__")).alias("__c__"),
                )
                .groupBy(node_out)
                .agg(F.sum("__c__").alias("__c__"))
            )
            new_ranks = nodes.join(contrib, node_out, "left").select(
                *carry,
                (
                    (F.lit(1.0) - F.lit(d)) * p_col
                    + F.lit(d)
                    * (F.coalesce(F.col("__c__"), F.lit(0.0))
                       + F.lit(dangling) * p_col)
                ).alias(rank_out),
            )
            # Lineage discipline: persist + one materializing action per
            # step (cheap, blocks stay memory-deserialized) with a
            # localCheckpoint every 8th step to TRUNCATE the logical chain —
            # persist alone keeps the full lineage, making per-step plan
            # analysis O(k) and OOM-ing the driver on long tol= runs just
            # stringifying the plan, while checkpointing EVERY step pays
            # block serialization per iteration (measured ~1.5x on the
            # 2M-edge probe). Bounded depth ≤ 8 keeps analysis O(1)-ish at
            # any iteration count. The materializing action IS the next
            # iteration's dangling-mass fold (with tol=, fused into the
            # delta fold): one job per iteration where the old shape paid
            # two (a dangling anti-join collect plus a dedicated count).
            since_ckpt += 1
            if since_ckpt >= 8:
                new_ranks = new_ranks.localCheckpoint()
                since_ckpt = 0
                new_cached = False
            else:
                new_ranks = new_ranks.persist()
                new_cached = True
            steps += 1
            if tol is not None:
                drow = (
                    new_ranks.select(
                        node_out, "__dang__", F.col(rank_out).alias("__new__")
                    )
                    .join(
                        ranks.select(node_out, F.col(rank_out).alias("__old__")),
                        node_out,
                    )
                    .agg(
                        F.sum(F.abs(F.col("__new__") - F.col("__old__"))).alias(
                            "__delta__"
                        ),
                        F.coalesce(
                            F.sum(F.when(F.col("__dang__"), F.col("__new__"))),
                            F.lit(0.0),
                        ).alias("__dm__"),
                    )
                    .collect()[0]
                )
                delta = drow["__delta__"]
                dangling = drow["__dm__"]
            else:
                delta = None
                dangling = _dang_fold(new_ranks)
            if ranks_cached:
                ranks.unpersist()
            ranks = new_ranks
            ranks_cached = new_cached
            if tol is not None and delta is not None and delta < tol:
                break
        # ranks is materialized, so the finally may drop the build-side
        # caches under it
        out = Table.from_df(
            ranks.select(node_out, rank_out), name=f"{table.table_name}_pagerank"
        )
        out.pagerank_iterations = steps
        return out
    finally:
        for frame in persisted:
            frame.unpersist()
        if aqe_prev is not None:
            table.spark.conf.set(_AQE_KEY, aqe_prev)
        if aqe_locked:
            _AQE_TOGGLE_LOCK.release()
