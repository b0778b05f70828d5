"""Incremental table-to-table propagation over manifests — the
bronze→silver→gold layer chaining (Delta's "streaming from a table"
idea) that completes the table service as a streaming substrate.

One engine, :class:`_Propagation`, keeps a destination equal to
``combine(A_0, .., A_{n-1})`` over N ≥ 1 :class:`~.manifest.ManifestTable`
sources, optionally reduced to the keep-best row per key.  The three
public classes only map their arguments onto it:
:class:`IncrementalPropagator` (one source, ``combine`` = a row-wise
transform), :class:`DeltaJoinPropagator` (two sources) and
:class:`MultiJoinPropagator` (N sources).

``combine`` must be MULTILINEAR — distribute over row-union in each
argument (inner joins composed with row-wise select/filter/explode
qualify; aggregations belong to :class:`~.rollup.ContinuousAggregate`).
Then, with S_i the rows of source i that survive since its last
propagated version and Δ_i the rows it gained, the telescoping
delta identity

    combine(A_0'..A_{n-1}') = combine(S_0..S_{n-1})
        + Σ_i combine(S_0..S_{i-1}, Δ_i, A_{i+1}'..A_{n-1}')

makes each run N delta terms, each with a version-diff-sized argument,
instead of one full recompute (for N = 2: ΔA⋈B' ∪ S_A⋈ΔB; for N = 1:
transform(Δ)).

The destination's txn watermarks double as the source-version
bookkeeping AND the exactly-once ledger: every run lands as ONE atomic
commit carrying each source's version (``app_id`` for one source,
``f"{app_id}.s{i}"`` for N ≥ 2), and a replayed run is declined by the
CAS-checked txn rule every manifest sink uses — the reference's
Kafka-offset/Redis bookkeeping collapsed into the destination table's
own metadata (OffsetManager.scala:14-46).
"""

from __future__ import annotations

from collections.abc import Callable
from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .manifest import ManifestTable

KeySpec = list[str] | dict[str, str]


def _key_pairs(keys: KeySpec) -> list[tuple[str, str]]:
    """Normalize a key spec to [(source_col, dest_col)]: a plain list
    means combine keeps the key column names; a {source: dest}
    mapping handles combines that rename them."""
    if isinstance(keys, dict):
        return list(keys.items())
    return [(k, k) for k in keys]


def _renamed(df: DataFrame, pairs: list[tuple[str, str]]) -> DataFrame:
    """The ``pairs`` columns of ``df``, each renamed from its first name
    to its second."""
    return df.select(*[F.col(a).alias(b) for a, b in pairs])


def _best_per_key(df: DataFrame, keys: list[str], order: list[str]) -> DataFrame:
    """Deterministic keep-best: the first row per key group ordered by
    ``order`` ascending (``first_seen_dedup``'s convention — ordering
    by every varying column makes the survivor a pure function of the
    row multiset, partitioning-invariant)."""
    w = Window.partitionBy(*keys).orderBy(*[F.col(c).asc() for c in order])
    return (
        df.withColumn("__rn__", F.row_number().over(w))
        .filter(F.col("__rn__") == 1)
        .drop("__rn__")
    )


class _Propagation:
    """The propagation engine.  Each :meth:`run_once` takes the first
    step that applies:

    1. **noop** — no source moved, or one has no commits yet (no schema
       to combine: the first run waits for every source).
    2. **append-only** — every source's range holds only appends: the
       delta terms are appended as they are, or, with keep-best, the
       in-batch best competes against the STORED winners of exactly the
       touched keys (keep-min is a semilattice, so best(stored ∪ new)
       needs no suppressed history) in one keyed ``merge_delta``.
    3. **row-level CDC** — deletes/upserts in range: S_i is source i at
       its old version minus its net-deleted keys, Δ_i its net-added
       rows.  Plain: retract every source's net-deleted keys and insert
       the delta terms in ONE ``merge_delta``.  Keep-best: a retracted
       row may have been a winner with live runners-up, so the AFFECTED
       keys — named directly by the owning source's deletes, the stored
       winners other sources' deletes produced, and every key with a new
       candidate — are re-derived from a combine whose owning source is
       filtered to them.
    4. **full** — a compact/replace/restore in range, history below the
       vacuum horizon, or a first run: recompute, PINNED to the captured
       versions (an unpinned read racing a concurrent source append
       would include rows beyond the recorded watermarks — duplicated
       next run), committed as a ``replace``.

    **The CDC key rule.**  Step 3 needs a provenance key for EVERY
    source: ``keys[i]`` names the columns that uniquely identify a row
    of source i and survive ``combine`` (a list, or {source: dest} when
    renamed); the dedup-owning source defaults to ``dedup_keys``.  A
    source without one sends non-append ranges to step 4, as does a
    keep-best destination in which another source's key columns are
    invisible or whose ``dedup_keys`` are absent from the owning
    source's deleted rows.

    **Keep-best.**  ``dedup_keys`` + ``dedup_order`` make the
    destination the first row per ``dedup_keys`` group ordered by
    ``dedup_order`` ascending; ``combine`` itself stays multilinear —
    the engine owns the dedup, which is what makes it incremental.
    ``dedup_side`` indexes the source that OWNS the keys (each output
    key value is carried by one row of it); ``dedup_keys`` is read
    against that source as a {source: dest} spec."""

    def __init__(
        self,
        sources: list[ManifestTable],
        dest: ManifestTable,
        combine: Callable[..., DataFrame],
        app_id: str,
        keys: list[KeySpec | None],
        dedup_keys: KeySpec | None,
        dedup_order: list[str] | None,
        dedup_side: int,
    ) -> None:
        n = len(sources)
        if len(keys) != n:
            raise ValueError("one key spec per source")
        if (dedup_keys is None) != (dedup_order is None):
            raise ValueError("dedup_keys and dedup_order go together")
        if dedup_keys is not None:
            if not dedup_keys or not dedup_order:
                raise ValueError(
                    "dedup_keys and dedup_order must be non-empty"
                )
            if not 0 <= dedup_side < n:
                raise ValueError("dedup_side must index a source")
        self.sources = list(sources)
        self.dest = dest
        self.combine = combine
        self.dedup = None if dedup_keys is None else _key_pairs(dedup_keys)
        self.dedup_cols = [d for _, d in self.dedup or []]
        self.dedup_order = None if dedup_order is None else list(dedup_order)
        self.dedup_side = dedup_side
        self.keys = [
            _key_pairs(k) if k is not None
            else self.dedup if i == dedup_side else None
            for i, k in enumerate(keys)
        ]
        self.txn_apps = (
            [app_id] if n == 1 else [f"{app_id}.s{i}" for i in range(n)]
        )

    def _best(self, df: DataFrame) -> DataFrame:
        if self.dedup is None:
            return df
        return _best_per_key(df, self.dedup_cols, self.dedup_order)

    def _read(self, spark, versions, idx) -> list[DataFrame]:
        return [self.sources[i].read(spark, version=versions[i]) for i in idx]

    def _delta_terms(self, before, deltas, after) -> DataFrame:
        """Σ_i combine(before_0..before_{i-1}, Δ_i, after_{i+1}..):
        ``before`` holds sources 0..n-2, ``after`` sources 1..n-1."""
        return reduce(
            DataFrame.unionByName,
            (
                self.combine(*before[:i], d, *after[i:])
                for i, d in enumerate(deltas)
            ),
        )

    def reflected_versions(self) -> tuple[int, ...]:
        """Source versions already propagated (0 = none)."""
        txn = self.dest.manifest().get("txn", {})
        return tuple(int(txn.get(a, 0)) for a in self.txn_apps)

    def run_once(self, spark: SparkSession) -> dict:
        """Propagate everything the sources changed since the last run.
        Returns {"mode": "noop" | "incremental" | "full", "versions":
        [...]} (plus "source_version" for one source), flagged
        "retractions" when step 3 ran and "dedup" when keep-best ran
        incrementally.  Every commit path is declined idempotently on
        replay."""
        olds = self.reflected_versions()
        news = tuple(s.current_version() for s in self.sources)
        meta = {"versions": list(news)}
        if len(news) == 1:
            meta["source_version"] = news[0]
        if news == olds or 0 in news:
            return {"mode": "noop", **meta}
        txn = list(zip(self.txn_apps, news))
        res = None
        if all(olds):
            res = self._append_step(spark, olds, news, txn) or self._cdc_step(
                spark, olds, news, txn
            )
        if res is not None:
            return {**res, **meta}
        out = self._best(
            self.combine(*self._read(spark, news, range(len(news))))
        )
        self.dest.replace(out, txn=txn)
        return {"mode": "full", **meta}

    def _append_step(self, spark, olds, news, txn) -> dict | None:
        n = len(self.sources)
        deltas = [
            s.read_appended(spark, lo, hi)
            for s, lo, hi in zip(self.sources, olds, news)
        ]
        if any(d is None for d in deltas):
            return None
        delta = self._delta_terms(
            self._read(spark, olds, range(n - 1)),
            deltas,
            self._read(spark, news, range(1, n)),
        )
        if self.dedup is None:
            self.dest.append(delta, txn=txn)
            return {"mode": "incremental"}
        dk = self.dedup_cols
        # cand feeds BOTH the touched-key set and the refreshed winners
        # merge_delta computes — persist it so the delta terms and the
        # in-batch best run once, not once per consumer
        cand = self._best(delta).persist()
        try:
            touched = cand.select(*dk).dropDuplicates(dk)
            stored = self.dest.read(spark).join(touched, dk, "left_semi")
            refreshed = self._best(stored.unionByName(cand))
            self.dest.merge_delta(spark, refreshed, [(dk, touched)], txn=txn)
        finally:
            cand.unpersist()
        return {"mode": "incremental", "dedup": True}

    def _cdc_step(self, spark, olds, news, txn) -> dict | None:
        """Step 3; None (→ full) when the key rule or a source's net
        diff declines.  Retracting keys(∇_i) leaves combine(S_0..S_{n-1})
        in the destination, and the delta terms over (S, Δ, A') add the
        rest.  A key deleted and re-added with different content nets
        into BOTH ∇ and Δ: its old output rows retract, its new row
        lands once."""
        if any(k is None for k in self.keys):
            return None
        changes = [
            s.read_changes(spark, lo, hi)
            for s, lo, hi in zip(self.sources, olds, news)
        ]
        if any(ch is None for ch in changes):
            return None
        adds = [a for a, _ in changes]
        dels = [d for _, d in changes]
        n = len(self.sources)
        side = self.dedup_side
        others = [i for i in range(n) if i != side]
        if self.dedup is not None:
            if not {s for s, _ in self.dedup} <= set(dels[side].columns):
                return None  # dedup keys not named on the owning source
            dest_now = self.dest.read(spark) if others else None
            if any(
                not {d for _, d in self.keys[i]} <= set(dest_now.columns)
                for i in others
            ):
                return None  # another source's provenance invisible in dest
        before = []
        for i in range(n - 1):
            src = [s for s, _ in self.keys[i]]
            before.append(
                self.sources[i]
                .read(spark, version=olds[i])
                .join(
                    dels[i].select(*src).dropDuplicates(src), src, "left_anti"
                )
            )
        inserts = self._delta_terms(
            before, adds, self._read(spark, news, range(1, n))
        )
        if self.dedup is None:
            deletes = [
                ([d for _, d in p], _renamed(dels[i], p))
                for i, p in enumerate(self.keys)
            ]
            self.dest.merge_delta(spark, inserts, deletes, txn=txn)
            return {"mode": "incremental", "retractions": True}
        dk = self.dedup_cols
        affected = [_renamed(dels[side], self.dedup)]
        for i in others:
            ik = [d for _, d in self.keys[i]]
            affected.append(
                dest_now.join(
                    _renamed(dels[i], self.keys[i]).dropDuplicates(ik),
                    ik,
                    "left_semi",
                ).select(*dk)
            )
        # affected feeds BOTH the retraction key set and the
        # re-derivation semi-join — persist so the delta terms behind
        # it compute once
        affected = (
            reduce(DataFrame.unionByName, [*affected, inserts.select(*dk)])
            .dropDuplicates(dk)
            .persist()
        )
        try:
            args = self._read(spark, news, range(n))
            args[side] = args[side].join(
                _renamed(affected, [(d, s) for s, d in self.dedup]),
                [s for s, _ in self.dedup],
                "left_semi",
            )
            refreshed = self._best(self.combine(*args))
            self.dest.merge_delta(spark, refreshed, [(dk, affected)], txn=txn)
        finally:
            affected.unpersist()
        return {"mode": "incremental", "retractions": True, "dedup": True}


class IncrementalPropagator(_Propagation):
    """One source: the destination is ``transform(source)``, which must
    be BATCH-LOCAL (row-wise select/filter/explode/enrich-against-
    static) — it is applied to each version diff on its own.

    ``key_cols`` (the source's provenance key, see the engine's key
    rule) makes an upstream ``delete_where``/``delete_range``/``upsert``
    propagate as a keyed retraction instead of a full recompute — a
    routine bronze retention pass then costs O(files it touched)
    downstream, not O(silver).  ``dedup_keys`` + ``dedup_order`` make
    the destination the keep-best row per key of transform(source);
    ``dedup_keys`` is the {source: dest} spec (a list when transform
    keeps the names) and needs no ``key_cols``."""

    def __init__(
        self,
        source: ManifestTable,
        dest: ManifestTable,
        transform: Callable[[DataFrame], DataFrame],
        app_id: str = "propagate",
        key_cols: KeySpec | None = None,
        dedup_keys: KeySpec | None = None,
        dedup_order: list[str] | None = None,
    ) -> None:
        super().__init__(
            [source], dest, transform, app_id, [key_cols],
            dedup_keys, dedup_order, 0,
        )

    def reflected_version(self) -> int:
        """Highest source version already propagated (0 = nothing)."""
        return self.reflected_versions()[0]


class DeltaJoinPropagator(_Propagation):
    """Two sources — the medallion fan-in shape (order_wide: two bronze
    streams joined into one silver fact).  ``combine(left_df,
    right_df)`` must be bilinear; each run is ΔA⋈B' ∪ S_A⋈ΔB, where
    reading "old A" is a time-travel read available while the vacuum
    horizon retains it.

    ``left_keys``/``right_keys`` are the sources' provenance keys (see
    the engine's key rule): with them a deletion upstream retracts
    exactly the destination rows that source row produced.
    ``dedup_keys`` + ``dedup_order`` make the destination the keep-best
    row per key; ``dedup_side`` ("left" or "right") names the source
    that owns those keys (order_wide's detail id lives in the lineitem
    side)."""

    def __init__(
        self,
        left: ManifestTable,
        right: ManifestTable,
        dest: ManifestTable,
        combine: Callable[[DataFrame, DataFrame], DataFrame],
        app_id: str = "propagate2",
        left_keys: KeySpec | None = None,
        right_keys: KeySpec | None = None,
        dedup_keys: KeySpec | None = None,
        dedup_order: list[str] | None = None,
        dedup_side: str = "right",
    ) -> None:
        if dedup_side not in ("left", "right"):
            raise ValueError("dedup_side must be 'left' or 'right'")
        super().__init__(
            [left, right], dest, combine, app_id, [left_keys, right_keys],
            dedup_keys, dedup_order, ("left", "right").index(dedup_side),
        )


class MultiJoinPropagator(_Propagation):
    """N ≥ 2 sources: ``combine(dfs: list[DataFrame])`` must be
    multilinear; ``keys[i]`` is source i's provenance key (see the
    engine's key rule — ``None`` leaves every source without one);
    ``dedup_side`` is the INDEX of the source owning ``dedup_keys``."""

    def __init__(
        self,
        sources: list[ManifestTable],
        dest: ManifestTable,
        combine: Callable[[list[DataFrame]], DataFrame],
        app_id: str = "propagateN",
        keys: list[KeySpec] | None = None,
        dedup_keys: KeySpec | None = None,
        dedup_order: list[str] | None = None,
        dedup_side: int = -1,
    ) -> None:
        if len(sources) < 2:
            raise ValueError("MultiJoinPropagator needs >= 2 sources")
        super().__init__(
            sources, dest, lambda *dfs: combine(list(dfs)), app_id,
            keys if keys is not None else [None] * len(sources),
            dedup_keys, dedup_order, dedup_side,
        )


def make_medallion_sink(
    bronze: ManifestTable,
    stages: list | None = None,
    rollups: list | None = None,
    app_id: str = "medallion-stream",
):
    """foreachBatch sink that runs the WHOLE medallion chain per
    micro-batch — §3.3's end state: the reference's three chained
    always-on jobs as one Structured Streaming DAG over the table
    service.  Per trigger: the batch lands in bronze as ONE idempotent
    commit (``txn=(app_id, batch_id)``), then every propagator stage
    advances to its source's current version, then every continuous
    aggregate refreshes.

    Restart-safe at ANY point in the chain, because each link carries
    its own exactly-once ledger: a replayed bronze append is declined
    by the txn watermark; a stage that already committed this version
    range no-ops (its watermark rode its dest commit); a stage that
    crashed BEFORE committing redoes the same version range against an
    unchanged snapshot (its dest commit is atomic).  So a checkpoint
    restart mid-chain neither double-counts nor drops — pinned by the
    restart pytest.

    Out-of-band bronze deletes (a GDPR/retention ``delete_where``
    between triggers) ride the next tick's version range and propagate
    as keyed retractions through every delete-aware stage — the batch
    ``run_once`` machinery unchanged, just driven by the stream clock.
    An idle tick (empty batch) still advances stage watermarks through
    content-free commits.

    The sink records every stage/rollup result dict in
    ``sink.history`` (a list of {"batch_id", "stage", "result"}), so a
    caller can ENFORCE that a delete propagated incrementally rather
    than trusting it did."""
    stages = list(stages or [])
    rollups = list(rollups or [])

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        from ..caching import begin_query

        begin_query()
        bronze.append(batch_df, txn=(app_id, int(batch_id)))
        spark = batch_df.sparkSession
        for i, st in enumerate(stages):
            r = st.run_once(spark)
            sink.history.append(
                {"batch_id": int(batch_id), "stage": f"stage{i}", "result": r}
            )
        for i, ca in enumerate(rollups):
            r = ca.refresh(spark)
            sink.history.append(
                {"batch_id": int(batch_id), "stage": f"rollup{i}", "result": r}
            )

    sink.history = []
    return sink
