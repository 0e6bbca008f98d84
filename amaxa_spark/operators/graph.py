"""Graph operators over self-lookup (parent-pointer) relations.

Beyond the seeded closure (J3), pipelines need whole-table grouping:
assign every record its hierarchy root / connected component. For a
parent-pointer forest the right distributed algorithm is **pointer
doubling** (path halving): each round replaces every node's pointer
with its pointer's pointer, so path lengths halve and the loop
converges in O(log depth) rounds — at depth 24 that is 5 rounds of
self-joins versus 24 BFS rounds. Each round is one equi-join of the
narrow (node, ptr) frame with itself; `localCheckpoint` truncates
lineage per round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


_BROADCAST_HOP_MAX = 2_000_000


def observed_checkpoint(df: DataFrame, *metrics) -> tuple[DataFrame, dict]:
    """Eager ``localCheckpoint`` with an ``Observation`` attached:
    bounded per-round scalars (row counts, moved-flags) ride the
    checkpoint's materialization job instead of paying a separate
    action, so a fixpoint round costs ONE job for
    materialize+converge-test instead of two — while keeping the
    EAGER checkpoint whose finalized AQE plan the loops need (fusing
    via a lazy checkpoint + count measured slower; see
    OPTIMIZATION_r11.md "Negative results"). Returns
    ``(checkpointed_df, metrics_dict)``; the metrics fire exactly
    once (the CollectMetrics node is not part of the truncated
    lineage, so downstream reuse never re-reports)."""
    from pyspark.sql import Observation

    obs = Observation()
    out = df.observe(obs, *metrics).localCheckpoint(eager=True)
    return out, obs.get


def _round_bound(n: int, max_rounds: int) -> int:
    """Doubling rounds worth running over ``n`` nodes: depth ≤ n, so
    an acyclic input converges within ceil(log2 n)+1 rounds; only a
    cycle whose length is not a power of two can still be moving past
    ceil(log2 n)+2 — stop burning full-table self-joins on it and let
    the caller's BFS fallback finish."""
    return min(max_rounds, max(2, (max(n, 2) - 1).bit_length() + 2))


def pointer_roots(
    nodes: DataFrame, max_rounds: int = 40
) -> tuple[DataFrame, bool]:
    """Pointer-doubling fixpoint over a (node, parent) frame whose
    parent values are null or known-existing node ids. Returns
    ``(ptr_frame(node, ptr), converged)``; when ``converged`` is
    False (a parent cycle, or depth > 2^max_rounds) the pointers are
    NOT roots and callers must fall back to BFS. Rounds are bounded by
    :func:`_round_bound`, as in :func:`pointer_seed_hits`."""
    # the hop side is the whole pointer frame: broadcasting it makes
    # each doubling round a map-only stage (no per-round shuffle of
    # ptr), which measurably halves round latency. Gated by row count
    # — observed on the checkpoint job, so it's free — because above
    # ~2M rows the per-round broadcast build/ship cost overtakes the
    # shuffle it saves.
    ptr, m = observed_checkpoint(
        nodes.select("node", F.coalesce("parent", "node").alias("ptr")),
        F.count(F.lit(1)).alias("n"),
    )
    bcast = int(m["n"]) <= _BROADCAST_HOP_MAX
    converged = False
    for _ in range(_round_bound(int(m["n"]), max_rounds)):
        hop = ptr.select(F.col("node").alias("__n2"), F.col("ptr").alias("__p2"))
        if bcast:
            hop = F.broadcast(hop)
        # carry a per-row moved flag through the doubling join so
        # convergence is an observed metric of the checkpoint job, not
        # a second action against the previous round
        doubled, m = observed_checkpoint(
            ptr.join(hop, ptr["ptr"] == hop["__n2"], "left_outer")
            .select(
                "node",
                F.coalesce("__p2", "ptr").alias("ptr"),
                (F.col("__p2").isNotNull() & (F.col("__p2") != F.col("ptr"))).alias(
                    "__moved"
                ),
            ),
            F.count_if(F.col("__moved")).alias("moved"),
        )
        ptr = doubled.drop("__moved")
        if int(m["moved"]) == 0:
            converged = True
            break
    return ptr, converged


def pointer_seed_hits(
    nodes: DataFrame, seeds: DataFrame, max_rounds: int = 40
) -> tuple[DataFrame, bool]:
    """Pointer-doubling with a seed-hit flag over a (node, parent)
    frame whose parent values are null or known-existing node ids:
    returns ``(hits(node, hit), converged)`` where ``hit`` is true iff
    some ancestor-or-self of ``node`` (along real parent edges) lies
    in ``seeds`` (a one-column ``node`` frame). That predicate IS the
    downward closure of the seeds — "n descends from a seed" ≡ "a seed
    is an ancestor-or-self of n" — computed in O(log depth) doubling
    rounds instead of O(depth) BFS rounds.

    Invariant (same doubling argument as :func:`pointer_roots`): after
    round k, ``ptr`` is the ancestor at distance 2^k (clamped at the
    root's self-loop) and ``hit`` covers seed membership over
    ancestors at distance [0, 2^k). The update
    ``hit' = hit OR hit[ptr]`` extends coverage to [0, 2^{k+1})
    because ``ptr``'s own window starts exactly where this node's
    ends. On convergence (no pointer moved) the covered window spans
    every chain: a tail of length t needs 2^k ≥ t to stabilize, and a
    cycle of length L stabilizes only when L divides 2^k (so 2^k ≥ L
    and the window wraps the whole cycle) — either way ``hit`` is the
    exact ancestor-or-self predicate, cycles included. A cycle whose
    length is NOT a power of two never stabilizes; rounds are bounded
    by ceil(log2(n)) + 2 (depth ≤ n always, so an acyclic input
    converges strictly inside the bound) and on a bound-exit every
    true ``hit`` still follows real parent edges: the hit set is a
    SUBSET of the downward closure and a SUPERSET of the seeds, and
    callers fall back to BFS seeded with it, which completes the
    closure honestly."""
    st, m = observed_checkpoint(
        nodes.join(
            seeds.select(
                F.col("node").alias("__s"), F.lit(True).alias("__h0")
            ),
            F.col("node") == F.col("__s"),
            "left_outer",
        )
        .select(
            "node",
            F.coalesce("parent", "node").alias("ptr"),
            F.coalesce("__h0", F.lit(False)).alias("hit"),
        ),
        F.count(F.lit(1)).alias("n"),
    )
    n = int(m["n"])
    bcast = n <= _BROADCAST_HOP_MAX
    converged = False
    for _ in range(_round_bound(n, max_rounds)):
        hop = st.select(
            F.col("node").alias("__n2"),
            F.col("ptr").alias("__p2"),
            F.col("hit").alias("__h2"),
        )
        if bcast:
            hop = F.broadcast(hop)
        doubled, m = observed_checkpoint(
            st.join(hop, st["ptr"] == hop["__n2"], "left_outer")
            .select(
                "node",
                F.coalesce("__p2", "ptr").alias("ptr"),
                (F.col("hit") | F.coalesce("__h2", F.lit(False))).alias(
                    "hit"
                ),
                (F.col("__p2").isNotNull() & (F.col("__p2") != F.col("ptr"))).alias(
                    "__moved"
                ),
            ),
            F.count_if(F.col("__moved")).alias("moved"),
        )
        st = doubled.drop("__moved")
        if int(m["moved"]) == 0:
            converged = True
            break
    return st.select("node", "hit"), converged


def hierarchy_roots(
    df: DataFrame, pk: str, parent_col: str, max_rounds: int = 40
) -> DataFrame:
    """Returns (``pk``, root) where root is the top ancestor reached
    by following ``parent_col`` (nodes with null parent are their own
    root). Dangling parent references are treated as roots."""
    nodes = df.select(F.col(pk).alias("node"), F.col(parent_col).alias("parent"))
    # dangling parents (no matching node) behave as if null — ONE
    # left join with an existence flag (the old left_semi +
    # left_outer pair re-derived the same rows in two joins)
    resolved = (
        nodes.join(
            nodes.select(F.col("node").alias("__p")),
            F.col("parent") == F.col("__p"),
            "left_outer",
        )
        .select(
            "node",
            F.when(F.col("__p").isNotNull(), F.col("parent")).alias("parent"),
        )
    )
    ptr, _ = pointer_roots(resolved, max_rounds)
    return ptr.select(F.col("node").alias(pk), F.col("ptr").alias("root"))


def component_sizes(
    df: DataFrame, pk: str, parent_col: str
) -> DataFrame:
    """(root, size) per hierarchy — the grouping reduction on top of
    :func:`hierarchy_roots`."""
    roots = hierarchy_roots(df, pk, parent_col)
    return roots.groupBy("root").agg(F.count(F.lit(1)).alias("size"))


def pagerank(
    edges: DataFrame,
    iterations: int = 3,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Fixed-iteration PageRank over an (src, dst) edge frame —
    the canonical iterative-algorithm shape done Spark-right: every
    iteration is one (edges ⋈ ranks) shuffle on the source key plus a
    dst-keyed aggregation, the dangling-node mass is folded back
    through a 1-row broadcast (never a driver round-trip), and
    ``localCheckpoint`` truncates lineage so the plan does not grow
    with the iteration count. Multi-edges should be deduplicated by
    the caller if unweighted semantics are intended.

    Returns (node, rank) with ranks summing to 1 (uniform teleport +
    uniform dangling redistribution). The only driver-side scalar is
    the node COUNT (one number, same bounded-collect contract as the
    IVF codebook); everything row-shaped stays in the plan.

    Scale shape: per iteration, one shuffle of |E| narrow rows keyed
    by src and one |V| aggregation keyed by dst; ranks/outdeg frames
    are (id, double) — at 1B edges the iteration cost is two
    exchanges of 16-byte rows, and AQE's skew handling applies to hub
    nodes. O(log) alternatives (e.g. power iteration on a
    block-partitioned matrix) only pay above ~10^10 edges."""
    e = edges.select(F.col(src).alias("e_src"), F.col(dst).alias("e_dst"))
    nodes = (
        e.select(F.col("e_src").alias("node"))
        .union(e.select(F.col("e_dst").alias("node")))
        .distinct()
    )
    outdeg = e.groupBy("e_src").agg(F.count(F.lit(1)).alias("__odeg"))
    # ONE materialized node frame carrying the dangling flag: a node
    # is dangling iff it has no outdegree row, so the old
    # distinct + left_anti + third checkpoint collapses into this
    # left join — and each iteration's dangling mass becomes a FILTER
    # over the ranks frame instead of a join against a separate
    # dangling frame (same rank values summed; the summation-order
    # ulp shift is absorbed by the caller's terminal rounding exactly
    # like the Spark-vs-DuckDB order difference always was)
    nodeinfo, m = observed_checkpoint(
        nodes.join(
            outdeg.select(F.col("e_src").alias("node"), "__odeg"),
            "node",
            "left_outer",
        ).select("node", F.col("__odeg").isNull().alias("__dang")),
        F.count(F.lit(1)).alias("n"),
    )
    n = int(m["n"])  # bounded driver scalar: ONE number
    if n == 0:
        return nodeinfo.select("node", F.lit(0.0).alias("rank"))
    # pre-join outdeg once: the per-iteration join then carries
    # (src, dst, odeg) and needs no second lookup
    edeg = e.join(outdeg, "e_src").localCheckpoint(eager=True)
    teleport = (1.0 - damping) / n
    ranks = nodeinfo.select("node", F.lit(1.0 / n).alias("rank"), "__dang")
    for _ in range(iterations):
        contribs = (
            edeg.join(ranks, edeg["e_src"] == ranks["node"])
            .select(
                F.col("e_dst").alias("node"),
                (F.col("rank") / F.col("__odeg")).alias("__c"),
            )
            .groupBy("node")
            .agg(F.sum("__c").alias("__contrib"))
        )
        dmass = ranks.where(F.col("__dang")).agg(
            F.coalesce(F.sum("rank"), F.lit(0.0)).alias("__dm")
        )
        ranks = (
            nodeinfo.crossJoin(F.broadcast(dmass))
            .join(contribs, "node", "left_outer")
            .select(
                "node",
                (
                    F.lit(teleport)
                    + F.lit(damping)
                    * (
                        F.coalesce("__contrib", F.lit(0.0))
                        + F.col("__dm") / F.lit(float(n))
                    )
                ).alias("rank"),
                "__dang",
            )
            .localCheckpoint(eager=True)
        )
    return ranks.select("node", "rank")
