"""Generic distributed-relational primitives the KG pipeline is built from.

These are the Spark-native replacements for the reference's recursive
pointer-chasing (SURVEY.md §2.3/§2.4): salted hash joins,
top-1-per-group windows, the one bounded fixpoint loop, window dedup with
a deterministic tiebreak. They are exposed directly (and exercised against
the TPC-H-ish driver tables in ``__spark_entry__.py``) because they ARE the
engine's operator core.
"""

from __future__ import annotations

import warnings
from typing import Callable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def reliable_barrier(df: DataFrame, checkpoint_dir: str | None,
                     tag: str) -> DataFrame:
    """Materialization barrier for iterative-join loops.

    Default (``checkpoint_dir=None``): ``localCheckpoint()`` — fast, but
    executor-local and non-replicated, so on a real cluster an executor loss
    means recompute-from-nothing. With ``checkpoint_dir`` set, the round's
    result is written to ``<dir>/<tag>`` as parquet and read back — a
    reliable barrier that survives executor loss and also truncates lineage
    (the cluster-scale mode). Each caller passes a round-unique ``tag`` so
    no round overwrites a path an earlier round's DataFrame still reads
    from.

    The local mode is a LAZY checkpoint (``eager=False``): every barrier in
    the iterative loops is consumed immediately afterwards (an isEmpty
    probe, the next round's join), so the first action both materializes
    and pins it — an eager checkpoint would run one extra job per round
    for the same result (measured 1.5x on the bounded-closure loop).
    Lineage still truncates at materialization, so plans stay flat.
    """
    if checkpoint_dir is None:
        return df.localCheckpoint(eager=False)
    path = f"{checkpoint_dir.rstrip('/')}/{tag}"
    df.write.mode("overwrite").parquet(path)
    return df.sparkSession.read.parquet(path)


def fan_out(df: DataFrame, multiplier: int = 1) -> DataFrame:
    """Scale-adaptive parallelism floor for expression-heavy operators.

    A small input (one parquet file under maxPartitionBytes) scans as ONE
    partition, so every per-row expression upstream of the first exchange —
    shingle explosion, MinHash folds, regex scrubbing — runs on one core
    regardless of cluster width. Repartitioning to
    ``defaultParallelism * multiplier`` costs one shuffle of the (by
    construction small) input and unlocks full-width evaluation.

    Scale-adaptive: when the input already has at least that many partitions
    (any corpus-scale table), this is a NO-OP — no shuffle is ever added to
    a large input, so operators using it keep their 100 TB shuffle shape.
    The explicit partition number is deliberate: AQE never coalesces a
    user-specified ``repartition(n)``, while a bare ``repartition(col)``
    would be coalesced right back to one partition at these sizes.
    ``multiplier=1`` (one task per core) measured best for expression-heavy
    map work at bench scale; finer grains only add scheduling overhead to
    the downstream small-shuffle jobs.

    Precondition: ``df`` is a scan-level input (a table read, plus at most
    narrow projections/filters). The width probe ``df.rdd.getNumPartitions()``
    plans the physical query; with an upstream exchange under AQE that
    executes the intermediate query stages at plan-build time.
    """
    target = df.sparkSession.sparkContext.defaultParallelism * multiplier
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def salted_join(
    probe: DataFrame,
    build: DataFrame,
    key: str,
    salt: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-defusing equi-join (north_star: "salted hash joins to defuse skew
    on hub modules"). The probe side gets a deterministic salt derived from
    its row content; the build side is replicated ``salt`` times. Result
    equals a plain ``probe.join(build, key, how)``.

    Use when the build side is too large to broadcast AND the probe key is
    skewed (hub symbols like ``os``/``typing`` at corpus scale). AQE skew-join
    handles sort-merge skew adaptively; explicit salting also covers
    shuffle-hash joins and makes the mitigation deterministic.
    """
    all_probe_cols = probe.columns
    salt_col = (F.abs(F.hash(*[F.col(c) for c in all_probe_cols])) % salt)
    p = probe.withColumn("__salt", salt_col)
    b = build.withColumn("__salt", F.explode(F.array(*[F.lit(i) for i in range(salt)])))
    out = p.join(b, on=[key, "__salt"], how=how).drop("__salt")
    return out


def top1_per_group(
    df: DataFrame, group_cols: list[str], order_cols: list[Column]
) -> DataFrame:
    """Keep the best row per group (row_number window), for orderings
    :func:`window_dedup` cannot express (descending / mixed). Only the
    ``q_top1_per_group`` entry of ``__spark_entry__.queries()`` calls it;
    the KG's own top-1 picks (mention resolution, override pick) are
    ``min(struct)`` aggregates."""
    w = Window.partitionBy(*group_cols).orderBy(*order_cols)
    return (df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1).drop("__rn"))


def window_dedup(
    df: DataFrame, key_cols: list[str], tiebreak_cols: list[Column]
) -> DataFrame:
    """Dedup with deterministic winner — the generic form of the KG's C1
    min-commit dedup (canonicalize.dedup_triples / dedup_entities, which
    inline the same shape). Only the ``q_window_dedup`` entry of
    ``__spark_entry__.queries()`` calls it.

    Implemented as groupBy + ``min(struct(tiebreaks…, remaining cols…))``
    rather than a row_number window (CLAUDE.md pitfall 5): the aggregation
    partial-combines map-side, so the exchange carries at most one row per
    (group x map partition) instead of every input row, and the reduce side
    needs no sort. Contract: ``tiebreak_cols`` must be ASCENDING expressions
    (the C1 min-commit shape); the winner is the row minimizing
    (tiebreaks…, remaining columns…) lexicographically — identical to the
    window form whenever the tiebreak is unique within a group, and still
    deterministic when it is not (the window form is not). For descending /
    mixed orderings use :func:`top1_per_group`."""
    others = [c for c in df.columns if c not in key_cols]
    w = F.min(F.struct(
        *[tb.alias(f"__tb{i}") for i, tb in enumerate(tiebreak_cols)],
        *[F.col(c) for c in others])).alias("w")
    return (df.groupBy(*[F.col(k) for k in key_cols]).agg(w)
            .select(*key_cols, *[F.col(f"w.{c}").alias(c) for c in others]))


def bounded_fixpoint(
    seed: DataFrame,
    step: Callable[[DataFrame, DataFrame], DataFrame],
    key: list[str],
    max_rounds: int,
    tag: str,
    checkpoint_dir: str | None = None,
) -> tuple[DataFrame, int]:
    """The one bounded growth loop (closures, alias chase, wildcard and
    import closures, SPARQL ``p+``), the join analog of the
    reference's recursive pointer-chasing (tracking.py).

    Round ``i`` calls ``step(delta, acc)`` (``delta``: the previous round's
    new rows, ``seed`` in round 0; ``acc``: everything so far), keeps the
    least row per ``key`` not yet in ``acc``, and barriers it lazily under
    tag ``f"{tag}_{i}"`` (:func:`reliable_barrier`): the emptiness probe
    that ends the loop is the job that materializes it. Returns
    ``(seed ∪ new rows, rounds that added rows)``; when all ``max_rounds``
    added rows, a ``RuntimeWarning`` names the loop and its bound.
    """
    acc = delta = seed
    for i in range(max_rounds):
        out = step(delta, acc)
        # one map-side-combining aggregate drops the keys already in acc AND
        # keeps the least row per key (no anti-join exchange on top of the
        # dedup's); columns come back out of the winning struct, never as
        # grouping attributes (CLAUDE.md pitfall 13)
        new = (out.withColumn("__known", F.lit(False))
               .unionByName(acc.select(*key, F.lit(True).alias("__known")),
                            allowMissingColumns=True)
               .groupBy(*key)
               .agg(F.max("__known").alias("__known"),
                    F.min(F.struct(*out.columns)).alias("__w"))
               .filter(~F.col("__known"))
               .select(*[F.col(f"__w.{c}").alias(c) for c in out.columns]))
        new = reliable_barrier(new, checkpoint_dir, f"{tag}_{i}")
        if new.isEmpty():
            return acc, i
        acc = acc.unionByName(new)
        delta = new
    warnings.warn(f"fixpoint {tag!r} reached its bound of {max_rounds} "
                  "rounds with rows still being added; result truncated",
                  RuntimeWarning, stacklevel=2)
    return acc, max_rounds


_TC_MAX_ROUNDS = 10


def transitive_closure(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Bounded transitive closure over an edge DataFrame, the join analog of
    the reference's recursive ancestor walks (SURVEY L4): returns
    (src, dst, depth) with depth the minimum path length, via
    :func:`bounded_fixpoint` (``_TC_MAX_ROUNDS``; barrier tags
    ``tc_round_<i>``). Each round is one shuffle join; Python class DAGs are
    shallow so the loop exits after 2-4 rounds.
    """
    seed = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"),
                        F.lit(1).alias("depth"))
    base = edges.select(F.col(src).alias("e_src"), F.col(dst).alias("e_dst"))

    def step(frontier, _closure):
        return (frontier.join(base, frontier["dst"] == base["e_src"])
                .select("src", F.col("e_dst").alias("dst"),
                        (F.col("depth") + 1).alias("depth")))

    closure, _ = bounded_fixpoint(seed, step, ["src", "dst"], _TC_MAX_ROUNDS,
                                  "tc_round", checkpoint_dir)
    # duplicate seed edges share a pair; later rounds never repeat one
    return closure.groupBy("src", "dst").agg(F.min("depth").alias("depth"))
