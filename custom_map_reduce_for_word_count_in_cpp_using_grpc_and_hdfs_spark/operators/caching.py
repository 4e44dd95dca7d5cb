"""Cache-lifetime discipline for operators that persist intermediates.

Several dedup operators persist an intermediate (shingle index, MinHash
signatures, SimHash fingerprints) that the returned plan references many
times. The persist is load-bearing — without it Catalyst's
CollapseProject inlines the producing expression into every reference —
but a bare ``persist()`` leaks: the cache entry outlives the query and
slowly squeezes executor memory in a long-lived session embedding the
operators.

Contract implemented here: **cached intermediates live exactly as long
as the returned DataFrame object**. ``tie_cache_lifetime`` attaches a
``weakref.finalize`` to the result; when the caller drops the result
(after its action has run), every tied frame is unpersisted. Finalizers
chain — a tied frame that was itself returned by ``tie_cache_lifetime``
stays alive (the closure holds it) until the outer result dies, then its
own finalizer fires — so composed operators release in dependency order.
"""

from __future__ import annotations

import logging
import weakref

from pyspark.sql import DataFrame

logger = logging.getLogger(__name__)

#: Default bound on how many cached bytes one scanned byte can become
#: through the explode/aggregate chains these operators cache. This is
#: an EMPIRICAL ceiling, not a proof — and round 7 re-measured every
#: eager_stats shape across three decades (sf0.1/sf1/sf10,
#: .scratch/r7/measure_expansion.py), so the engine's own call sites
#: now pass their measured per-shape bounds (see the constants in
#: operators/dedup.py and operators/similarity.py): hashed shingle
#: index 3.4–3.7× flat, minhash signatures 2.3×, simhash fingerprints
#: 0.1×, banded hyperplane codes 6→30→40× (grows with the log2(N) band
#: count until its 48-band cap — the one measured shape ABOVE this
#: default, which is why per-site bounds exist). The 32× default
#: remains for external callers with unmeasured shapes; hashed=False
#: string shingles (measured 8.7→13.8×, still growing at sf10) are the
#: documented case to keep at the default or higher. The lazy-path log
#: line below is the audit trail for diagnosing a mis-broadcast that
#: slipped past a bound.
_EXPANSION_BOUND = 32


def _size_proof(
    df: DataFrame, expansion_bound: int = _EXPANSION_BOUND
) -> tuple[bool, bool, list | None]:
    """(mis-plan risk, proof of smallness, source file sizes).

    The two booleans answer DIFFERENT questions (round-8 fix — they were
    conflated as one flag, see below):

    - *risk*: could the static planner pick ``df``'s cache as a
      broadcast build side on a bad estimate? ``False`` when the source
      scan's file bytes (accurately known, unlike the post-``Generate``
      estimate) say the cached relation stays broadcast-safe at
      ``expansion_bound``× growth — then a mis-estimated broadcast is
      still a CORRECT broadcast and an eager measuring count buys
      nothing. Also ``False`` when auto-broadcast is disabled
      (threshold <= 0): the planner won't pick ANY estimate-driven
      broadcast, so there is nothing to mis-plan.
    - *proof*: do we have positive size evidence (``sum(file bytes) ×
      bound < threshold``, threshold > 0)? It picks the audit line
      :func:`eager_stats` logs. A disabled threshold is a USER
      INSTRUCTION to avoid broadcasts, not evidence of smallness, so
      threshold <= 0 → no proof.

    Unknown sizes (remote schemes, non-file sources) report risky and
    unproven: at production scale, materialize and measure. The
    guarantee is only as strong as the bound: it holds for every
    cached-bytes-per-source-byte ratio the engine has measured, not for
    arbitrary shapes."""
    from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.plans.parallelism import _as_bytes, scan_file_sizes

    try:
        threshold = _as_bytes(df.sparkSession.conf.get("spark.sql.autoBroadcastJoinThreshold"))
    except Exception:
        return True, False, None
    if threshold <= 0:  # auto-broadcast disabled: nothing to mis-plan, nothing proven
        return False, False, None
    sizes = scan_file_sizes(df)
    if sizes is None:
        return True, False, None
    proven = sum(sizes) * expansion_bound < threshold
    return not proven, proven, sizes


def eager_stats(df: DataFrame, expansion_bound: int = _EXPANSION_BOUND) -> DataFrame:
    """Persist ``df`` and materialize it NOW, so joins planned afterwards
    see the cache's MEASURED size instead of Catalyst's estimate.

    The materializing ``count()`` is an extra job (~1.5 s fixed cost at
    small SF, measured round 5), so it runs only when it can change a
    decision: when the source scan is big enough — or unsizeable — that
    the true cached size could cross the broadcast threshold at
    ``expansion_bound``× growth (:func:`_size_proof`; pass a
    shape-specific bound when the default's measured ceiling doesn't
    cover the caller's expansion). Small sources keep the lazy persist
    and their (correct) broadcast plans; the sf0.1 driver bench takes
    the lazy path, the sf10 OOM repro takes the eager one. Lazy-path
    decisions are logged (source bytes, bound, threshold) so a future
    mis-broadcast is diagnosable from the log rather than from a driver
    OOM autopsy.

    Why this exists (sf10 smoke, round 5): explode-derived relations are
    systematically under-estimated — ``Generate`` propagates its child's
    ``sizeInBytes`` without multiplying by fan-out, and the narrow
    (id, hash) projection then SHRINKS the number — so a ~1 GB shingle
    inverted index carried a 17 MB estimate at sf10 and the static
    planner picked it as a BroadcastHashJoin BUILD side: the broadcast
    build OOM'd the driver. No statistics conf fixes this (the error is
    structural, not a compression ratio), but a materialized
    InMemoryRelation reports measured bytes: small frames still
    broadcast (sf0.1 keeps its fast plans), corpus-scale ones fall back
    to shuffle joins — the plan decision tracks the data, not the
    estimate. The extra count() action is absorbed by the persist the
    operator needed anyway.

    At 100 TB the same discipline holds for free: candidate-generation
    inputs live as written stores (signature/shingle indexes in parquet)
    whose file sizes the planner reads directly.

    Order matters (round-7 fix): the risk check runs BEFORE ``persist()``.
    Once the plan is registered with the CacheManager, the memoized
    optimized plan substitutes an ``InMemoryRelation`` for the file scan,
    ``inputFiles()`` returns empty, and ``scan_file_sizes`` reports
    "unsizeable" — which the risk check conservatively treats as risky,
    silently degrading the gate to always-eager (the pre-fix behavior:
    correct plans, but the ~1.5 s count job ran even for provably-small
    sources unless the caller happened to have analyzed the frame first).
    """
    risky, proven, sizes = _size_proof(df, expansion_bound)
    df = df.persist()
    if risky:
        df.count()
    elif proven:
        logger.info(
            "eager_stats: lazy persist (source %s bytes x bound %s under the "
            "broadcast threshold) — if this relation later mis-broadcasts, "
            "raise expansion_bound at this call site",
            sum(sizes) if sizes else "?",
            expansion_bound,
        )
    else:
        # not risky yet not proven = auto-broadcast disabled: nothing was
        # measured, so log the ACTUAL rationale — the under-the-threshold
        # message would record a size proof that never held (round-8 fix)
        logger.info(
            "eager_stats: lazy persist (autoBroadcastJoinThreshold disabled: "
            "the planner cannot mis-pick an estimate-driven broadcast, and "
            "no size proof was taken)"
        )
    return df


def tie_cache_lifetime(result: DataFrame, *frames: DataFrame) -> DataFrame:
    """Unpersist every frame in ``frames`` when ``result`` is garbage
    collected. Frames are also kept alive (strongly referenced by the
    finalizer closure) until then, so chained finalizers fire in
    dependency order. Returns ``result`` for fluent use."""

    def _release(frames=frames):
        for f in frames:
            try:
                f.unpersist(blocking=False)
            except Exception:
                # session already stopped / JVM gone — nothing to release
                pass

    weakref.finalize(result, _release)
    return result


def materialize(df: DataFrame, prefer_local: bool = False) -> DataFrame:
    """Truncate lineage for an iterative operator's per-round frame:
    reliable ``checkpoint()`` when the session has a checkpoint directory
    configured, executor-local ``localCheckpoint()`` otherwise.

    The distinction is fault-tolerance posture, not semantics (both
    materialize and cut lineage). ``localCheckpoint`` stores blocks in
    executor memory/disk — if an executor dies mid-iteration the blocks
    are gone AND the lineage needed to recompute them was discarded, so
    the whole job fails; acceptable in a single-JVM local session, not in
    a 1000-executor job whose label-propagation loop runs for minutes.
    Setting ``spark.sparkContext.setCheckpointDir(<reliable store>)``
    (HDFS/S3 on a real cluster) flips every iterative operator to
    reliable checkpoints with no call-site changes: blocks land in the
    shared store and survive any executor. The extra I/O per
    connected-components round is two writes + two reads (the propagate
    and path-halving frames both materialize; ~3% warm wall measured at
    sf1, BASELINE §K). Spark only deletes checkpoint files when
    ``spark.cleaner.referenceTracking.cleanCheckpoints=true`` (default
    false) — set it, or point the checkpoint dir at a per-job path the
    caller deletes when the job ends (README "Running"), or the store
    grows without bound across jobs.

    ``prefer_local=True`` keeps the frame on ``localCheckpoint`` even
    when a reliable dir is configured — for frames that are read once
    and cheap to recompute on executor loss but EXPENSIVE to write
    reliably (e.g. the corpus-sized vertex seed in connected_components,
    where a reliable write would dwarf the edge-endpoint-sized per-round
    frames the ~3% tax was measured on)."""
    if not prefer_local:
        try:
            # reaching sparkContext itself raises on a Spark Connect
            # session (no JVM handle) — resolve ANY failure to reach the
            # JVM as "no reliable dir", falling back to localCheckpoint
            has_dir = df.sparkSession.sparkContext.getCheckpointDir() is not None
        except Exception:
            has_dir = False
        if has_dir:
            return df.checkpoint()
    return df.localCheckpoint()
