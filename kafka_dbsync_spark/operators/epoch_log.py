"""The epoch-commit protocol behind every ``foreachBatch`` sink and
index marker in ``operators/``, stated and implemented once.

It is Structured Streaming's exactly-once recipe (Armbrust et al.,
SIGMOD 2018): the engine's offset log redelivers an epoch after a
crash, and the sink makes the redelivery harmless because every write
is keyed by the epoch id and one commit record lands last.

- **Epoch dirs.** Epoch ``N`` of an output or state table ``root``
  lands in ``root/e{N}`` (:func:`epoch_dir`); the index-ingest sinks
  log their epochs as ``{index}/ingest/e{N}``.
- **``_SUCCESS`` is the commit, written last.** A dir counts only once
  its ``_SUCCESS`` exists: Spark's parquet committer writes it after
  every data file, and :func:`commit` writes it for a dir whose
  contents landed by other means. Each sink names one commit table
  whose epoch dir is written after all the epoch's other outputs.
- **Replay of a committed epoch, or of a compacted one, is a no-op.**
  An epoch whose commit dir is committed, or whose id is at or below
  the newest committed ``base-{T}`` of the commit table (compaction
  folded its dir away), returns before writing anything
  (:func:`_epoch_is_committed`). A crash before the commit leaves the
  epoch uncommitted; its outputs are deterministic overwrites, and
  state reads see only EARLIER epochs (``before_epoch``), so the replay
  recomputes against the state the first attempt saw and rewrites
  every output identically.
- **``seed/`` is reserved.** Pre-stream bootstrap state lives under
  ``seed/``, never an epoch id: Structured Streaming's first batchId is
  0, and a seed written as ``e0`` would make batch 0 look committed.
- **``base-{T}`` never crosses an uncommitted epoch.** :func:`compact`
  folds the seed and committed epochs ``<= T`` of each state table into
  ``base-{T}``, commits it, and only then deletes the dirs it covers.
  ``T`` stops below the oldest uncommitted epoch: folding past it would
  make that epoch's replay a no-op and lose the batch. Readers take the
  newest base plus committed epochs above its ``T``, so a crash between
  the base write and the cleanup double-counts nothing.
- **Markers are replaced, never rewritten in place.** JSON markers
  (``_COMPLETE``, ``_CURRENT.json``) are written to ``<marker>.tmp.<pid>``
  and renamed over the old one (:func:`write_marker`): a reader, or the
  next writer after a crash, sees the old record or the new one, never
  a truncated file.

Stateless gates (lm, nb, contamination) write ``accepted/e{N}`` and
``rejected/e{N}`` through :func:`gate_foreach_batch` and treat "both
sides committed" as the epoch's commit.

A state dir belongs to ONE streaming checkpoint: a new checkpoint
restarts batchIds at 0, and those epochs would be swallowed by the
committed/compacted guards.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

_SUCCESS = "_SUCCESS"
_SEED = "seed"
_INGEST = "ingest"


def epoch_dir(*parts: str | int) -> str:
    """``epoch_dir(root, ..., N)`` -> ``root/.../e{N}``."""
    *root, epoch = parts
    return os.path.join(*root, f"e{int(epoch)}")


def committed(d: str) -> bool:
    return os.path.exists(os.path.join(d, _SUCCESS))


def commit(d: str) -> None:
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, _SUCCESS), "w"):
        pass


def _ingest_committed(path: str, epoch: int) -> bool:
    return committed(epoch_dir(path, _INGEST, epoch))


def read_marker(marker: str) -> dict | None:
    """The parsed JSON marker, or None when it is absent or unparseable."""
    try:
        with open(marker) as f:
            return json.load(f)
    except (OSError, ValueError):
        return None


def write_marker(marker: str, rec: dict | str) -> None:
    """Replace ``marker`` atomically with ``rec`` (a dict dumped as JSON,
    or already-serialized text): write ``<marker>.tmp.<pid>``, then
    ``os.replace``. An interrupted write leaves the previous marker
    intact and the tmp file behind (``generation_check`` reports it)."""
    tmp = f"{marker}.tmp.{os.getpid()}"
    with open(tmp, "w") as f:
        if isinstance(rec, str):
            f.write(rec)
        else:
            json.dump(rec, f)
    os.replace(tmp, marker)


# ---------------------------------------------------------------------------
# Epoch-state tables: seed/ + e{N}/ + base-{T}/ under state_dir/sub
# ---------------------------------------------------------------------------
def _scan_root(state_dir: str, sub: str):
    """Inventory one state table's dirs. Returns ``(base_dir,
    base_through, seed_dir, committed_epochs, pending_epochs)`` where
    ``committed_epochs`` is ``[(epoch, dir), ...]`` and
    ``pending_epochs`` lists epoch ids whose dir exists uncommitted
    (crash mid-write). ``base_through = -1`` when no base exists."""
    root = os.path.join(state_dir, sub)
    base_dir, base_through = None, -1
    seed_dir = None
    done: list[tuple[int, str]] = []
    pending: list[int] = []
    if not os.path.isdir(root):
        return base_dir, base_through, seed_dir, done, pending
    for name in sorted(os.listdir(root)):
        d = os.path.join(root, name)
        if name == _SEED:
            if committed(d):
                seed_dir = d
        elif name.startswith("base-"):
            try:
                through = int(name[5:])
            except ValueError:
                continue
            if committed(d) and through > base_through:
                base_dir, base_through = d, through
        elif name.startswith("e"):
            try:
                epoch = int(name[1:])
            except ValueError:
                continue
            if committed(d):
                done.append((epoch, d))
            else:
                pending.append(epoch)
    return base_dir, base_through, seed_dir, done, pending


def _epoch_dirs(state_dir: str, sub: str, before_epoch: int | None = None):
    """Visible state dirs for one table: the newest base snapshot (which
    covers the seed and every epoch <= its T), else the seed, plus
    committed epoch dirs above the base, optionally only those earlier
    than ``before_epoch`` (replay isolation; callers never pass a
    ``before_epoch`` at or below the base's T — such an epoch is
    treated as committed and short-circuits before reading state)."""
    base_dir, through, seed_dir, done, _ = _scan_root(state_dir, sub)
    out = []
    if base_dir is not None:
        out.append(base_dir)
    elif seed_dir is not None:
        out.append(seed_dir)
    for epoch, d in sorted(done):
        if epoch <= through:
            continue  # folded into the base (dir awaiting cleanup)
        if before_epoch is not None and epoch >= before_epoch:
            continue
        out.append(d)
    return out


def _epoch_is_committed(state_dir: str, commit_sub: str, epoch: int) -> bool:
    """True when ``epoch`` of the commit table ``commit_sub`` landed —
    directly, or folded into a base snapshot by compaction (the dir
    itself is gone then)."""
    if committed(epoch_dir(state_dir, commit_sub, epoch)):
        return True
    _, through, _, _, _ = _scan_root(state_dir, commit_sub)
    return epoch <= through


def _read_state(
    spark: SparkSession, state_dir: str, sub: str,
    before_epoch: int | None = None,
) -> DataFrame | None:
    dirs = _epoch_dirs(state_dir, sub, before_epoch)
    if not dirs:
        return None
    return spark.read.parquet(*dirs)


def compact(
    spark: SparkSession,
    state_dir: str,
    commit_sub: str,
    subs: tuple[str, ...],
    transforms: dict | None = None,
    keep_last: int = 0,
) -> dict:
    """Fold the seed and committed epochs of every table in ``subs``
    into one ``base-{T}`` each, bounding per-batch state reads to O(1)
    dirs on an arbitrarily old stream. ``T`` is the newest committed
    epoch of ``commit_sub`` below its oldest uncommitted one, less the
    ``keep_last`` newest (cheap replay of recent batches keeps their own
    dirs). ``transforms`` maps a table to a fold (distinct for hash
    sets, re-aggregation for counters). Returns ``{"through": T,
    "folded_epochs": n}`` (``n == 0`` when nothing qualified)."""
    _, through, _, done, pending = _scan_root(state_dir, commit_sub)
    ceiling = min(pending) if pending else None
    cand = sorted(
        e for e, _ in done
        if e > through and (ceiling is None or e < ceiling)
    )
    if keep_last > 0:
        cand = cand[: max(0, len(cand) - keep_last)]
    if not cand:
        return {"through": through, "folded_epochs": 0}
    _fold_tables(spark, state_dir, subs, cand[-1], transforms)
    return {"through": cand[-1], "folded_epochs": len(cand)}


def _fold_tables(
    spark: SparkSession,
    state_dir: str,
    subs: tuple[str, ...],
    new_through: int,
    transforms: dict | None = None,
) -> None:
    """Fold each table's visible dirs at or below ``new_through`` into
    ``base-{new_through}`` (per-sub optional transform), then retire the
    covered dirs: write the base, THEN clean."""
    for sub in subs:
        base_dir, sub_through, seed_dir, done, _ = _scan_root(state_dir, sub)
        srcs = [d for d in (base_dir, seed_dir) if d is not None]
        srcs += [d for e, d in sorted(done) if sub_through < e <= new_through]
        if not srcs:
            continue
        root = os.path.join(state_dir, sub)
        df = spark.read.parquet(*srcs)
        fn = (transforms or {}).get(sub)
        if fn is not None:
            df = fn(df)
        df.write.mode("overwrite").parquet(
            os.path.join(root, f"base-{new_through}")
        )
        # commit point passed: retire everything the new base covers
        for name in list(os.listdir(root)):
            d = os.path.join(root, name)
            if name == _SEED or (
                name.startswith("base-") and name != f"base-{new_through}"
            ):
                shutil.rmtree(d, ignore_errors=True)
            elif name.startswith("e"):
                try:
                    epoch = int(name[1:])
                except ValueError:
                    continue
                if epoch <= new_through and committed(d):
                    shutil.rmtree(d, ignore_errors=True)


# ---------------------------------------------------------------------------
# Two-way routed write: accepted/e{N} + rejected/e{N} with a reason
# ---------------------------------------------------------------------------
def route_epoch(
    df: DataFrame,
    accepted: str,
    rejected: str,
    accept: Column,
    reason: Column,
    drop: tuple[str, ...] = (),
) -> None:
    """Write the rows where ``accept`` holds to ``accepted`` and every
    other row (``accept`` false or NULL) to ``rejected`` with a
    ``reject_reason`` column, both as deterministic overwrites; ``drop``
    names internal columns left out of both. ``df`` feeds both writes,
    so the caller persists it."""
    df.filter(accept).drop(*drop).write.mode("overwrite").parquet(accepted)
    (
        df.filter(~F.coalesce(accept, F.lit(False)))
        .withColumn("reject_reason", reason)
        .drop(*drop)
        .write.mode("overwrite")
        .parquet(rejected)
    )


def gate_foreach_batch(accepted_dir: str, rejected_dir: str, score):
    """``foreachBatch`` function of a stateless gate. ``score(batch_df)``
    returns ``(labeled, accept, reason)``; :func:`route_epoch` writes
    ``labeled`` to ``e{epoch}`` under both dirs. A replayed epoch whose
    two sides are both committed returns before scoring; a crash
    between the two writes re-runs the epoch."""

    def fn(batch_df: DataFrame, epoch_id: int) -> None:
        acc = epoch_dir(accepted_dir, epoch_id)
        rej = epoch_dir(rejected_dir, epoch_id)
        if committed(acc) and committed(rej):
            return  # replayed epoch: both outputs already committed
        labeled, accept, reason = score(batch_df)
        labeled = labeled.persist()
        try:
            route_epoch(labeled, acc, rej, accept, reason)
        finally:
            labeled.unpersist()

    return fn
