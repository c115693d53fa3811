"""The versioned kind-partitioned store behind every store-backed
streaming processor (streaming/sessionize.py, streaming/joins.py,
streaming/curation_stream.py), and its history compaction.

Layout: one epoch-keyed version directory per micro-batch,
``{root}/v{epoch}/kind=<k>/``. Carried state lives only in the newest
version (and, for retry idempotence, the one below it); append-only
HISTORY kinds (closed sessions, attribution pairs, curation
docs/bands/edges/raw) survive in every version as history-only stubs.

Public API:
  * ``versions(spark, root)`` — the sorted epoch numbers present.
  * ``read_latest(spark, root, schema, *, before_epoch=None)`` — the
    newest version strictly below ``before_epoch`` (a processor's true
    pre-state, so a redelivered epoch ignores its own failed attempt);
    an empty frame before the first write.
  * ``read_history(spark, root, kind, schema, cols, *,
    before_epoch=None)`` — one kind unioned across every version.
  * ``write_version(frame, root, epoch)`` — the epoch's one
    kind-partitioned static overwrite.
  * ``prune_versions(spark, root, *, current_epoch, prune_kinds)`` —
    drops carried-state kinds everywhere but the newest two versions.
  * ``empty_frame(spark, schema)`` — the zero-task empty frame the
    readers return before the first write.
  * ``compact_store`` / ``recover_compaction`` — below.

The history union is O(number of epochs) directory listings and
parquet footer reads. At gate scale (2-3 epochs) it is invisible; on a
real deployment a stream that commits an epoch every few seconds
produces tens of thousands of version stubs per day, and every
mid-stream history read (the curation funnel's candidate
verification, the final flushes) pays the whole listing tail. Object
stores make it worse: LIST calls are metered and rate-limited.

`compact_store` bounds that growth: it folds history stubs strictly
below the two newest versions into merged base directories. Minor
mode (the default, and what the processors' compact_every knob runs)
folds only the stubs accumulated since the last fold — amortized
LINEAR total write cost over the stream's life, O(epochs/N) base
dirs; major mode folds the bases too, collapsing the store to at
most three version dirs (base, previous, latest) for a maintenance
window. A store that only ever ran minor folds stays small enough
that reads never again pay one listing per epoch.

Correctness (why readers cannot tell):
  * Future epochs e read `before_epoch=e` with e > latest, i.e. the
    union of everything — folding stubs preserves the union.
  * The only possible retry target is the LATEST epoch (foreachBatch
    commits epochs sequentially, so at most the newest written
    version is checkpoint-uncommitted). Its retry reads state from
    the version below (untouched: the merged base is strictly older)
    and history strictly below itself — again a preserved union.
  * Older retries cannot occur, and the merged base keeps the
    SMALLEST folded epoch number, so every `before_epoch` cut that
    any future or retrying epoch can issue classifies the base
    exactly as it classified the folded stubs.
Compaction therefore commutes with the processors: tests pin that a
mid-stream compact between any two epochs leaves the final flush
equal to the batch pipeline (test_store_compaction.py).

Crash safety (single maintenance writer, same assumption as the
stream itself): the multi-step directory swap is guarded by a marker
protocol —

  1. build  {root}/_compact.staging/kind=*/   (merged history)
  2. write  {root}/_compact.staging/_COMPACTED (json: base, folded)
     -- marker presence == staging is complete --
  3. delete the folded version dirs
  4. rename staging -> v{base}

`recover_compaction` makes any crash point re-runnable: staging
without marker is discarded (nothing was deleted yet); staging with
marker is rolled FORWARD (finish the deletes, finish the rename).
`compact_store` begins by recovering, so a crashed compaction heals
on the next maintenance run. A restarting stream recovers when its
processor is BUILT: every store-backed ``make_*_processor`` factory
calls `recover_compaction` before returning, so recovery precedes the
first store read. Every read also rolls a complete staged fold
forward (`_heal_staged_fold`). The marker file rides into the merged
dir as an underscore-prefixed file, which parquet readers ignore, and
doubles as compaction provenance.

The staging/marker names start with '_' so `versions` (v<int> dirs
only) and Spark's file index both ignore them.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from hha_spark.sources import fs

_STAGING = "_compact.staging"
_MARKER = "_COMPACTED"

# history kinds per store flavor (the processors' append-only kinds;
# everything else is carried state, pruned to the newest two versions
# by prune_versions and never folded)
SESSIONIZE_HISTORY = ("closed",)
ATTRIBUTION_HISTORY = ("attr",)
CURATION_HISTORY = ("doc", "band", "edge", "raw")


def versions(spark: SparkSession, root: str) -> list[int]:
    """Sorted epoch numbers of the v<epoch> directories under `root`."""
    return sorted(
        int(d[1:])
        for d in fs.listdir(spark, root)
        if d.startswith("v") and d[1:].isdigit()
    )


# schema DDL -> rendered typed-null projection, so repeated pre-first-
# write reads don't re-parse the (module-constant) schema per epoch
_EMPTY_SELECTS: dict[str, str] = {}


def empty_frame(spark: SparkSession, schema: str) -> DataFrame:
    """Zero-row frame with `schema` as a pure-JVM LocalRelation
    (plans as `LocalTableScan <empty>`), replacing
    ``spark.createDataFrame([], schema)`` on the pre-first-write read
    paths. The createDataFrame route builds a defaultParallelism-
    partition PYTHON RDD: every job that scans it launches ~one
    zero-row Python worker task per core (measured ~0.5 s of pure
    worker wait per task, re-paid on every re-execution of the
    epoch-0 probe — 32-34-task stages with ~17 s of executor time
    and ~0.3 s of CPU), and, being opaque to Catalyst, it blocks
    PropagateEmptyRelation from pruning the empty prev-state
    branches out of the first epoch's plan. A LocalRelation costs
    zero tasks and folds away at optimize time. (Schema strings here
    are module constants, never user input.)"""
    sel = _EMPTY_SELECTS.get(schema)
    if sel is None:
        fields = StructType.fromDDL(schema).fields
        # invariant of the string-SQL rendering: a backticked name
        # would break the generated SELECT and a NOT NULL field would
        # silently come back nullable — all call sites are
        # module-constant schemas with neither feature
        for f in fields:
            if "`" in f.name or not f.nullable:
                raise ValueError(
                    "empty_frame requires nullable, backtick-free "
                    f"fields; got {f.name!r} in {schema!r}"
                )
        sel = ", ".join(
            f"CAST(NULL AS {f.dataType.simpleString()}) AS `{f.name}`"
            for f in fields
        )
        _EMPTY_SELECTS[schema] = sel
    return spark.sql(f"SELECT {sel} WHERE false")


def _heal_staged_fold(spark: SparkSession, root: str) -> None:
    """Roll forward a compaction that crashed between staging
    completion and the directory swap, so EVERY store read — not just
    a restarting stream's processor-build recovery — sees the folded
    history.

    Without this, a consumer that goes straight to a final flush
    (final_curation_funnel / final_attributions /
    read_closed_sessions) after compact_store died between its
    delete and rename steps would silently read a store whose folded
    history exists only in _compact.staging (underscore dirs are
    invisible to `versions`) — wrong results, no error.

    Only a COMPLETE staging (marker present) is acted on: marker
    presence proves the folded dirs' contents are fully merged in
    staging, so finishing the deletes+rename is idempotent and
    read-equivalent. Staging WITHOUT a marker is left alone — it is
    either junk from a crash mid-build (the next compact_store
    discards it; it is invisible to readers anyway) or a live
    maintenance writer mid-fold, which a reader must not race.
    Cost on the happy path: one fs.exists probe per read."""
    if fs.exists(spark, f"{root}/{_STAGING}/{_MARKER}"):
        recover_compaction(spark, root)


def read_latest(
    spark: SparkSession,
    root: str,
    schema: str,
    *,
    before_epoch: int | None = None,
) -> DataFrame:
    """Newest epoch-keyed version under `root`; empty frame with
    `schema` before the first write.

    Versions are EPOCH-KEYED (v<epoch_id>), which is what makes the
    processors idempotent under foreachBatch retries: a redelivered
    epoch N passes before_epoch=N and reads the newest version
    STRICTLY BELOW N (its true pre-state — any v<N> left by the
    failed attempt is ignored and overwritten), recomputes the
    identical epoch, and re-commits. Final readers pass no bound and
    get the newest complete version."""
    _heal_staged_fold(spark, root)
    vs = versions(spark, root)
    if before_epoch is not None:
        vs = [v for v in vs if v < before_epoch]
    if not vs:
        return empty_frame(spark, schema)
    # explicit schema (incl. the kind partition column, matched by
    # name) skips per-read footer inference — see read_history
    return spark.read.schema(schema).parquet(f"{root}/v{vs[-1]}")


def read_history(
    spark: SparkSession,
    root: str,
    kind: str,
    schema: str,
    cols: tuple[str, ...],
    *,
    before_epoch: int | None = None,
) -> DataFrame:
    """Union of one kind's partition across ALL store versions — the
    append-only-history read (pruning preserves these kinds).
    `before_epoch` bounds the read to versions strictly below an
    epoch — REQUIRED when a processor reads history mid-stream (retry
    idempotence: a redelivered epoch must not see its own failed
    attempt's rows); final readers pass no bound."""
    _heal_staged_fold(spark, root)
    vs = versions(spark, root)
    if before_epoch is not None:
        vs = [v for v in vs if v < before_epoch]
    dirs = [
        d
        for d in (f"{root}/v{v}/kind={kind}" for v in vs)
        if fs.exists(spark, d)
    ]
    if not dirs:
        return empty_frame(spark, schema)
    # explicit schema: every stub of a kind is written with one fixed
    # schema, so footer-sniffing schema inference across N version
    # dirs is pure latency (one footer read per dir per history read)
    return spark.read.schema(schema).parquet(*dirs).select(*cols)


def write_version(frame: DataFrame, root: str, epoch: int) -> None:
    """Write one epoch's store version: `frame` (with a `kind` column)
    partitioned by kind into {root}/v{epoch}, overwriting.
    partitionOverwriteMode is pinned static: retry idempotence needs
    the whole version dir truncated, not just the partitions the retry
    happens to produce (a session configured dynamic would keep a
    failed attempt's stale kind= dirs when the retry's partition set
    differs)."""
    frame.write.option("partitionOverwriteMode", "static").partitionBy(
        "kind"
    ).mode("overwrite").parquet(f"{root}/v{epoch}")


def prune_versions(
    spark: SparkSession,
    root: str,
    *,
    current_epoch: int,
    prune_kinds: tuple[str, ...],
) -> None:
    """Drop the carried-state partitions (`prune_kinds`) of every
    version except `current_epoch` and the newest one below it (the
    retry target's pre-state). The remaining kinds are append-only
    history the final flush reads, so every version directory
    survives as a (possibly history-only) stub."""
    vs = versions(spark, root)
    prev = [v for v in vs if v < current_epoch]
    keep = {current_epoch, *prev[-1:]}
    for v in vs:
        if v not in keep:
            for kind in prune_kinds:
                fs.delete(spark, f"{root}/v{v}/kind={kind}")


def _kind_dirs(spark: SparkSession, root: str, version: int) -> list[str]:
    return [
        d
        for d in fs.listdir(spark, f"{root}/v{version}")
        if d.startswith("kind=")
    ]


def recover_compaction(spark: SparkSession, store_root: str) -> str:
    """Heal a crashed compact_store run; returns what was done:
    'none' (no staging), 'discarded' (incomplete staging dropped), or
    'completed' (marker found — deletes and rename rolled forward)."""
    staging = f"{store_root}/{_STAGING}"
    marker = f"{staging}/{_MARKER}"
    if not fs.exists(spark, staging):
        return "none"
    if not fs.exists(spark, marker):
        # crash during step 1: nothing was deleted, staging is junk
        fs.delete(spark, staging)
        return "discarded"
    try:
        meta = json.loads(fs.read_text(spark, marker))
        folded = [int(v) for v in meta["folded"]]
        base = int(meta["base"])
    except (ValueError, KeyError, TypeError):
        # torn/malformed marker (unparseable, valid-JSON-but-missing
        # fields like '{}', or wrong field types): the
        # tmp-write-then-rename protocol makes this nearly
        # unreachable, but a corrupt marker must not wedge recovery
        # forever — any malformed marker means the marker write never
        # completed, so no deletes ran and the staging is safely
        # discardable (deletes only start after the marker rename
        # returns). Raising here instead would propagate out of every
        # processor's build-time recovery and wedge ALL restarts —
        # the exact failure the torn-marker handling exists to stop.
        fs.delete(spark, staging)
        return "discarded"
    for v in folded:
        fs.delete(spark, f"{store_root}/v{v}")
    dst = f"{store_root}/v{base}"
    try:
        _rename_or_raise(spark, staging, dst)
    except OSError:
        # Concurrent completer race: every versioned read rolls a
        # COMPLETE staged fold forward (_heal_staged_fold), so a
        # reader and the maintenance writer can both reach this swap.
        # The loser's rename fails because the winner already moved
        # staging -> v{base}; if staging is gone AND the destination
        # exists, the fold IS complete (by the other party) and
        # raising out of a read path would turn a benign race into a
        # query failure. Anything else (staging still present, or dst
        # missing) is a real filesystem fault — re-raise.
        if fs.exists(spark, staging) or not fs.exists(spark, dst):
            raise
    return "completed"


def _rename_or_raise(spark: SparkSession, src: str, dst: str) -> None:
    """Hadoop FileSystem.rename reports failure by returning false,
    not raising. At swap time the folded dirs are already deleted and
    the staging dir is the ONLY copy of that history — silently
    discarding a failed rename (the next compact_store would then
    delete the staging) would lose it, so a false return must stop
    the world instead; the marker stays in place and
    recover_compaction can finish the swap once the filesystem issue
    is resolved."""
    if not fs.rename(spark, src, dst):
        raise OSError(
            f"compaction rename failed: {src} -> {dst}; if the folded "
            "version dirs were already deleted the staging dir holds "
            "the only copy of that history — resolve the filesystem "
            "issue and rerun recover_compaction (nothing is discarded "
            "while the marker is in place)"
        )


def compact_store(
    spark: SparkSession,
    store_root: str,
    *,
    history_kinds: tuple[str, ...],
    mode: str = "minor",
) -> dict:
    """Fold history versions strictly below the newest two into a
    merged history-only base version (module docstring has the
    reader-equivalence and crash-safety arguments).

    mode='minor' (default) skips versions that are themselves merged
    bases (marked by the provenance file a previous fold left
    behind): each run rewrites only the NEW stubs since the last
    fold, so a stream compacting every N epochs pays amortized-linear
    total write cost and holds O(epochs/N) base dirs — the LSM
    minor-compaction shape. mode='major' folds bases too, collapsing
    the store to at most three dirs — the full rewrite, for
    maintenance windows. Reader equivalence is identical either way:
    every merged dir keeps the SMALLEST folded epoch as its number,
    so any `before_epoch` cut a future or retrying epoch can issue
    classifies it exactly as it classified the folded stubs (all of
    which sit strictly below the cut).

    Returns observability counters: folded version count, base
    number, and any versions skipped for still carrying a kind
    outside `history_kinds`; per-kind row deltas are deliberately NOT
    computed (no jobs beyond the merge writes themselves).

    A foldable version still carrying a non-history kind is SKIPPED,
    not folded and not raised on: it is either a normal crash state
    (the stream died between an epoch's write and its prune, leaving
    stale state in versions[:-2] — the next completed epoch's prune
    clears it and a later fold picks the version up) or a
    misconfigured `history_kinds` (folding or deleting under a wrong
    kind list would corrupt the store, so touching nothing is the
    only safe response). Folding a NON-CONTIGUOUS set around a
    skipped version is still reader-equivalent: every folded epoch
    sits strictly below any cut a future or retrying epoch can
    issue, regardless of gaps.
    """
    if mode not in ("minor", "major"):
        raise ValueError(f"unknown compaction mode {mode!r}")
    recover_compaction(spark, store_root)
    olds = versions(spark, store_root)[:-2]
    if mode == "minor":
        olds = [
            v
            for v in olds
            if not fs.exists(spark, f"{store_root}/v{v}/{_MARKER}")
        ]
    skipped = [
        v
        for v in olds
        if any(
            d.split("=", 1)[1] not in history_kinds
            for d in _kind_dirs(spark, store_root, v)
        )
    ]
    olds = [v for v in olds if v not in skipped]
    if len(olds) < 2:
        return {"folded": 0, "base": None, "skipped_stateful": skipped}
    base = olds[0]
    staging = f"{store_root}/{_STAGING}"
    fs.delete(spark, staging)

    by_kind: dict[str, list[str]] = {}
    for v in olds:
        for d in _kind_dirs(spark, store_root, v):
            kind = d.split("=", 1)[1]
            by_kind.setdefault(kind, []).append(f"{store_root}/v{v}/{d}")

    # step 1: build the merged staging dirs in ONE schema-inference
    # read plus ONE kind-partitioned write, not a read+write job pair
    # per kind (4 kinds cost 8 jobs ≈ 0.6 s of fixed overhead per
    # fold at gate scale). Every store flavor writes its versions as
    # a single unified-wide frame partitioned by kind, so all kind
    # dirs of a version share one parquet schema and the first dir's
    # inferred schema binds them all; partitionBy("kind") re-emits
    # the same kind=<k> staging layout the per-kind writes produced.
    # coalesce(1) because a folded history stub is bounded by what
    # the stream already materialized once (at larger volumes raise
    # the target partition count, the protocol is unchanged).
    kinds = sorted(by_kind)
    unified_schema = spark.read.parquet(by_kind[kinds[0]][0]).schema
    merged = None
    for kind in kinds:
        frame = spark.read.schema(unified_schema).parquet(
            *by_kind[kind]
        ).selectExpr("*", f"'{kind}' AS kind")
        merged = frame if merged is None else merged.unionByName(frame)
    merged.coalesce(1).write.partitionBy("kind").parquet(staging)
    # step 2: marker — staging is complete from here on. Written to a
    # tmp name and renamed into place: fs.create makes a zero-length
    # file immediately, so a direct write crashed mid-way would leave
    # a torn marker that recovery could mistake for completeness
    fs.write_text(
        spark,
        f"{staging}/{_MARKER}.tmp",
        json.dumps({"base": base, "folded": olds}),
    )
    _rename_or_raise(
        spark, f"{staging}/{_MARKER}.tmp", f"{staging}/{_MARKER}"
    )
    # steps 3-4: swap
    for v in olds:
        fs.delete(spark, f"{store_root}/v{v}")
    _rename_or_raise(spark, staging, f"{store_root}/v{base}")
    return {"folded": len(olds), "base": base, "skipped_stateful": skipped}
