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

Generations, live reads and fsck
--------------------------------
Every persisted index family (pq, bm25, dedup, the bigram/trigram LMs,
nb, decontam, boilerplate) keeps one ``_COMPLETE`` marker at its root,
and the same marker-last rule makes it the commit of the artifacts.

- **Publish.** A train-once family lands its artifacts in an immutable
  generation dir ``gen-{n}_{max_id}_{sum_id}_{content}`` named by the
  train-set fingerprint (:func:`gen_name`). :func:`publish_generation`
  writes it to a pid-suffixed ``.stage-*`` dir, publishes it with one
  ``os.rename`` (the loser of a race discards its identical copy) and
  flips the marker to it last. The flat-table families (pq, dedup)
  take the marker out before a rewrite and write it back after.
- **Live reads.** Serve paths read the marker through
  :func:`live_marker`, and a generation through
  :func:`live_generation`. Both raise :class:`NoCompleteArtifact` (a
  ``FileNotFoundError`` and a ``ValueError``) when the marker is absent
  or unparseable, or names a generation whose dir is gone.
- **fsck.** Each ``*_check`` builds one :class:`CheckReport` of
  ``(check, artifact, status, detail)`` rows: PASS, WARN (still
  servable) or FAIL (marker and artifacts disagree). The shared rungs
  are :func:`check_marker` (the marker parses),
  :func:`check_dirs_exist` and :func:`sweep_leftovers` (``.stage-*``
  and other hidden dirs, and ``_COMPLETE.tmp.*`` files left by an
  interrupted :func:`write_marker`; the caller classifies orphans and
  ``.retired-*`` trash). :func:`generation_check` is the metadata level
  of every generation family. Each family adds its own checks.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

_SUCCESS = "_SUCCESS"
_COMPLETE = "_COMPLETE"
_STAGE = ".stage-"
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


def _load_marker(marker: str) -> dict:
    with open(marker) as f:
        return json.load(f)


def read_marker(marker: str) -> dict | None:
    """The parsed JSON marker, or None when it is absent or unparseable."""
    try:
        return _load_marker(marker)
    except (OSError, ValueError):
        return None


def write_marker(marker: str, rec: dict) -> None:
    """Replace ``marker`` atomically with ``rec`` dumped as JSON: write
    ``<marker>.tmp.<pid>``, then ``os.replace``. An interrupted write
    leaves the previous marker intact and the tmp file behind;
    :func:`sweep_leftovers` reports it in every family's fsck."""
    tmp = f"{marker}.tmp.{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(rec, f)
    os.replace(tmp, marker)


# ---------------------------------------------------------------------------
# Generations and live reads: {path}/_COMPLETE + {path}/gen-*/
# ---------------------------------------------------------------------------
class NoCompleteArtifact(FileNotFoundError, ValueError):
    """No servable artifact at a path: the marker is absent or
    unparseable, or names a generation whose dir is gone. It is both a
    ``FileNotFoundError`` and a ``ValueError``, the two conventions the
    families raised before they shared this reader."""


def gen_name(fp: dict) -> str:
    # every fingerprint term participates — two corpora with the same ids
    # but different TEXT must land in different generation dirs
    return f"gen-{fp['n']}_{fp['max_id']}_{fp['sum_id']}_{fp['content']}"


def live_marker(path: str, what: str, builder: str) -> dict:
    """The marker record of the complete ``what`` at ``path``; raises
    :class:`NoCompleteArtifact` naming ``builder`` when there is none."""
    rec = read_marker(os.path.join(path, _COMPLETE))
    if rec is None:
        raise NoCompleteArtifact(f"no complete {what} at {path}; {builder} first.")
    return rec


def generation_dir(path: str, rec: dict | None, subdirs=()) -> str | None:
    """The dir of the generation ``rec`` names, when it and each of its
    ``subdirs`` exist; else None."""
    gen = (rec or {}).get("gen")
    if not gen:
        return None
    d = os.path.join(path, gen)
    if not all(os.path.isdir(os.path.join(d, s)) for s in ("", *subdirs)):
        return None
    return d


def live_generation(path: str, what: str, builder: str) -> tuple[dict, str]:
    """``(marker record, generation dir)`` of the live generation at
    ``path``; raises :class:`NoCompleteArtifact` when the marker is
    missing or names no existing generation."""
    rec = live_marker(path, what, builder)
    gen_dir = generation_dir(path, rec)
    if gen_dir is None:
        raise NoCompleteArtifact(
            f"{what} marker at {path} references missing generation "
            f"{rec.get('gen')!r}; rebuild with {builder}."
        )
    return rec, gen_dir


def publish_dir(path: str, name: str, write_stage) -> str:
    """Publish the immutable dir ``path/name`` unless it exists:
    ``write_stage(stage)`` fills ``.stage-{name}-{pid}`` and ONE
    ``os.rename`` publishes it. Contents are deterministic, so the
    loser of a race discards its identical copy. Returns the dir."""
    final_dir = os.path.join(path, name)
    if not os.path.exists(final_dir):
        stage = os.path.join(path, f"{_STAGE}{name}-{os.getpid()}")
        write_stage(stage)
        try:
            os.rename(stage, final_dir)
        except OSError:
            shutil.rmtree(stage, ignore_errors=True)
    return final_dir


def publish_generation(path: str, gen: str, write_stage, marker_rec) -> None:
    """Publish generation ``gen`` under ``path`` with :func:`publish_dir`
    and flip the marker to it LAST, so readers only ever see complete
    generations.
    ``marker_rec`` is the record, or a callable of the published dir
    for records whose scalars fold from the artifacts.

    Retires ONLY the generation this build superseded (the one the
    marker named at start) plus this process's own stage leftovers:
    never another builder's in-flight ``.stage-*`` dir, never a gen a
    racing build published. Deleting by enumeration would let a slow
    stale builder destroy a newer build's generation. Unreferenced gens
    from such races may linger; they are immutable, never served, and
    :func:`generation_check` reports them as orphans."""
    from kafka_dbsync_spark.operators.cache_validation import invalidate_memo

    marker = os.path.join(path, _COMPLETE)
    os.makedirs(path, exist_ok=True)
    invalidate_memo(path)
    prev_live_gen = (read_marker(marker) or {}).get("gen")
    final_dir = publish_dir(path, gen, write_stage)
    rec = marker_rec(final_dir) if callable(marker_rec) else marker_rec
    write_marker(marker, dict(rec, gen=gen))
    my_stage_suffix = f"-{os.getpid()}"
    for name in os.listdir(path):
        superseded = name == prev_live_gen and name != gen
        my_stage = name.startswith(_STAGE) and name.endswith(my_stage_suffix)
        if superseded or my_stage:
            shutil.rmtree(os.path.join(path, name), ignore_errors=True)


# ---------------------------------------------------------------------------
# fsck rungs: one report, shared checks, family checks on top
# ---------------------------------------------------------------------------
_STAGING_DETAIL = (
    "in-flight or crashed staging dir; safe to reclaim when no builder is "
    "running"
)


class CheckReport(list):
    """The rows of a ``CheckIndex``-style report: ``(check, artifact,
    status, detail)`` tuples, status PASS / WARN / FAIL."""

    def add(self, check: str, artifact: str, ok, detail: str = "") -> None:
        """``ok`` is True for PASS, else the status string."""
        self.append((check, artifact, "PASS" if ok is True else ok, detail))

    def frame(self, spark: SparkSession, artifact_col: str = "artifact"):
        return spark.createDataFrame(
            list(self),
            f"check string, {artifact_col} string, status string, "
            "detail string",
        )


def check_marker(report: CheckReport, path: str) -> dict | None:
    """The ``marker_parses`` rung: the parsed marker, or None after a
    FAIL row carrying the read or parse error."""
    try:
        rec = _load_marker(os.path.join(path, _COMPLETE))
    except (OSError, ValueError) as e:
        report.add("marker_parses", "", "FAIL", f"{e}")
        return None
    report.add("marker_parses", "", True)
    return rec


def check_dirs_exist(
    report: CheckReport,
    root: str,
    names,
    missing: str,
    check: str = "artifact_dir_exists",
    prefix: str = "",
) -> bool:
    """One ``check`` row per dir in ``names`` under ``root``: PASS when
    it exists, else FAIL with the ``missing`` detail. True when all do."""
    ok_all = True
    for name in names:
        there = os.path.isdir(os.path.join(root, name))
        ok_all = ok_all and there
        report.add(check, f"{prefix}{name}", there or "FAIL", "" if there else missing)
    return ok_all


def sweep_leftovers(
    report: CheckReport,
    root: str,
    keep=(),
    hidden: str = _STAGING_DETAIL,
    stage: str | None = None,
    retired: str | None = None,
    orphan: tuple[str, str] | None = None,
    prefix: str = "",
) -> None:
    """The leftover sweep of one index dir, as WARN rows (all still
    servable): ``_COMPLETE.tmp.*`` files from an interrupted
    :func:`write_marker`, ``.stage-*`` dirs (``stage`` detail, default
    ``hidden``) and other hidden dirs (``hidden`` detail) as
    ``staging_leftover``; with ``retired``, ``.retired-*`` dirs as
    ``retired_dir``; with ``orphan = (check, detail)``, every other dir
    not in ``keep``. Other files are never reported: Hadoop committers
    leave dot-files (``._SUCCESS.crc``) beside every parquet write."""
    for entry in sorted(os.listdir(root)):
        name = f"{prefix}{entry}"
        if not os.path.isdir(os.path.join(root, entry)):
            if entry.startswith(_COMPLETE + ".tmp."):
                report.add(
                    "staging_leftover", name, "WARN",
                    "crashed marker tmp file; safe to reclaim",
                )
        elif entry in keep:
            continue
        elif retired is not None and entry.startswith(".retired-"):
            report.add("retired_dir", name, "WARN", retired)
        elif entry.startswith(_STAGE):
            report.add("staging_leftover", name, "WARN", stage or hidden)
        elif entry.startswith("."):
            report.add("staging_leftover", name, "WARN", hidden)
        elif orphan is not None:
            report.add(orphan[0], name, "WARN", orphan[1])


def generation_check(path: str, subdirs, what: str = "model cache"):
    """The metadata level of every :func:`publish_generation` family's
    fsck (the bigram/trigram LMs, nb, boilerplate, decontam): marker
    parse, live generation recorded and its dir present, each artifact
    of ``subdirs`` present, fingerprint and staleness metadata, and the
    leftover sweep with unreferenced generations as
    ``orphan_generation`` rows (publish-race losers: harmless,
    reclaimable).

    Returns ``(report, rec)``: rec is the parsed marker, or None when
    unparseable (the report then holds the lone FAIL). ZERO data IO —
    every probe is a stat or the marker JSON, safe on any serve path;
    the family's ``full`` level adds the data probes."""
    report = CheckReport()
    rec = check_marker(report, path)
    if rec is None:
        return report, None
    gen = rec.get("gen")
    if not gen:
        report.add(
            "generation_recorded", "", "FAIL",
            f"marker names no live generation — no servable {what}",
        )
        return report, rec
    report.add("generation_recorded", gen, True)
    if check_dirs_exist(
        report, path, (gen,),
        "marker references a missing generation dir — a reader would throw",
        check="generation_dir_exists",
    ):
        check_dirs_exist(
            report, os.path.join(path, gen), subdirs,
            "generation published without this artifact", prefix=f"{gen}/",
        )
    report.add(
        "fingerprint_recorded", "",
        True if rec.get("fingerprint") else "WARN",
        "" if rec.get("fingerprint")
        else "legacy marker without fingerprint: staleness checks cannot "
        "prove currency — rebuild to restore the ladder",
    )
    report.add(
        "staleness_metadata", "", True,
        "src_sig recorded (metadata-only staleness on the happy path)"
        if rec.get("src_sig")
        else "no src_sig: staleness pays the exact corpus fingerprint",
    )
    sweep_leftovers(
        report, path, keep=(gen,),
        hidden="hidden leftover dir; reclaimable",
        stage=_STAGING_DETAIL,
        orphan=(
            "orphan_generation",
            "immutable generation the marker does not reference "
            "(publish-race loser or superseded): never served, "
            "reclaimable disk",
        ),
    )
    return report, rec


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
