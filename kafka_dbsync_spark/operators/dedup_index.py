"""Persisted MinHash-LSH dedup index: build once over the corpus, then
check NEW documents against it incrementally — the dedup-at-ingest twin
of the ANN build/serve split (operators/pq_index.py). The batch near-dup
pipeline (operators/dedup.py) answers "which existing docs duplicate
each other"; this answers the production ingest question: "is this NEW
document a near-duplicate of anything already in the corpus?" without
re-scanning the corpus text.

Layout::

    {path}/signatures/   (doc_id, sig_0..sig_{n-1})   — estimate verify
    {path}/buckets/      (band_val, band_idx, doc_id) — LSH candidate join
    {path}/_COMPLETE     marker with a corpus fingerprint

Serve-side cost for a batch of NEW docs: signature the new docs (one
narrow pass over the NEW text only), equi-join their band values against
the stored buckets (shuffle bounded by new-docs × bands + matching
bucket rows — never the whole corpus), then verify candidates against
the stored signature table by a second id equi-join. The corpus TEXT is
never read at ingest time. ``add()`` appends the new docs' signatures
and bucket rows with the SAME frozen hash family — MinHash has no
trained state, so unlike PQ there is nothing to drift; the fingerprint
guards against the dataset being swapped underneath the cache. At
100 TB the buckets table would be laid out bucketed/sorted BY band_val
so the candidate join co-locates without a corpus-side shuffle (the
band hash is uniform for distinct content by construction).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_dbsync_spark.operators.dedup import (
    lsh_bands,
    with_minhash_signatures,
)
from kafka_dbsync_spark.operators.epoch_log import (
    _COMPLETE,
    _INGEST,
    CheckReport,
    _ingest_committed,
    check_dirs_exist,
    check_marker,
    commit,
    epoch_dir,
    read_marker,
    sweep_leftovers,
    write_marker,
)
from kafka_dbsync_spark.operators.pq_index import (
    _add_fingerprints,
    dataset_fingerprint,
    index_is_built,
)


def _sig_cols(num_hashes: int) -> list[str]:
    return [f"sig_{i}" for i in range(num_hashes)]


def corpus_fingerprint(docs: DataFrame, id_col: str = "doc_id") -> dict:
    """pq_index.dataset_fingerprint: count + max + sum of ids in one
    column-pruned aggregate."""
    return dataset_fingerprint(docs, id_col)


def _banded(sig: DataFrame, id_col: str, num_hashes: int, rows_per_band: int):
    return sig.select(
        id_col,
        F.posexplode(lsh_bands(_sig_cols(num_hashes), rows_per_band)).alias(
            "band_idx", "band_val"
        ),
    )


def _capped(banded: DataFrame, id_col: str, max_bucket_size: int | None):
    """Keep at most ``max_bucket_size`` REPRESENTATIVES per bucket
    (lowest ids — deterministic): the dedup corpus is duplicate-heavy by
    definition, so a bucket of identical content is unbounded; for the
    ingest question ("is this NEW doc a dup of ANYTHING stored") matching
    any representative suffices, and the candidate join stays
    O(new × bands × cap) instead of quadratic — the same guard
    minhash_lsh_candidates applies to batch pair generation."""
    if max_bucket_size is None:
        return banded
    from pyspark.sql.window import Window

    w = Window.partitionBy("band_idx", "band_val").orderBy(id_col)
    return (
        banded.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= max_bucket_size)
        .drop("__rk")
    )


def build_dedup_index(
    spark: SparkSession,
    docs: DataFrame,
    path: str,
    num_hashes: int = 8,
    rows_per_band: int = 2,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_bucket_size: int | None = 32,
) -> None:
    """Build and persist the signature + bucket tables (overwrite);
    buckets keep at most ``max_bucket_size`` representatives (lowest
    ids) so an all-duplicates corpus cannot make the serve-time
    candidate join quadratic. The marker is removed first and recreated
    (with the corpus fingerprint and the hash-family parameters) only
    after both artifacts land — same crash-safety contract as
    build_pq_index."""
    marker = os.path.join(path, _COMPLETE)
    if os.path.exists(marker):
        os.remove(marker)
    fp = corpus_fingerprint(docs, id_col)
    sig = with_minhash_signatures(
        docs.select(id_col, text_col), text_col, num_hashes, k
    ).select(id_col, *_sig_cols(num_hashes))
    sig.write.mode("overwrite").parquet(f"{path}/signatures")
    sig_r = spark.read.parquet(f"{path}/signatures")
    _capped(
        _banded(sig_r, id_col, num_hashes, rows_per_band),
        id_col, max_bucket_size,
    ).write.mode("overwrite").parquet(f"{path}/buckets")
    write_marker(
        marker,
        {
            "fingerprint": fp,
            "num_hashes": num_hashes,
            "rows_per_band": rows_per_band,
            "k": k,
            "max_bucket_size": max_bucket_size,
        },
    )


#: pq_index.index_is_built: the two families share the marker shape.
dedup_index_is_built = index_is_built


def dedup_check_incremental(
    spark: SparkSession,
    path: str,
    new_docs: DataFrame,
    threshold_bp: int = 5000,
    num_hashes: int = 8,
    rows_per_band: int = 2,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    cache_registry: list | None = None,
) -> DataFrame:
    """Near-duplicate check of NEW docs against the PERSISTED corpus
    index: signature the new docs with the same frozen hash family,
    LSH-join their bands against the stored buckets for candidates,
    then keep candidates whose signature-match estimate reaches
    ``threshold_bp`` (floor of 10000·matches/num_hashes — the same
    estimator discipline as minhash_jaccard_estimate). Returns
    (new_id, corpus_id, est_bp). The corpus text is never read.

    ``cache_registry``: callers that fully materialize the result can
    pass a list to receive the internally-persisted signature
    DataFrame and unpersist it afterwards (VERDICT r5 #6 — unmatched
    persists leak for the session; unpersisting is always
    correctness-safe since the lineage recomputes)."""
    scols = _sig_cols(num_hashes)
    # the new-batch signatures feed BOTH the band probe and the verify
    # join; persist them so the caller's new_docs lineage (often a
    # filter/sort over something bigger) is evaluated once, not per
    # consumer — the new batch is the SMALL side by contract, so the
    # cached footprint is ids × 8 hex sigs
    nsig = (
        with_minhash_signatures(
            new_docs.select(id_col, text_col), text_col, num_hashes, k
        )
        .select(id_col, *scols)
        .persist()
    )
    if cache_registry is not None:
        cache_registry.append(nsig)
    nband = _banded(nsig, id_col, num_hashes, rows_per_band).select(
        F.col(id_col).alias("new_id"), "band_idx", "band_val"
    )
    stored_b = spark.read.parquet(f"{path}/buckets").select(
        F.col(id_col).alias("corpus_id"), "band_idx", "band_val"
    )
    cand = (
        nband.join(stored_b, ["band_idx", "band_val"])
        .select("new_id", "corpus_id")
        .distinct()
    )
    a = nsig.select(
        F.col(id_col).alias("__na"), *[F.col(c).alias(f"a_{c}") for c in scols]
    )
    b = spark.read.parquet(f"{path}/signatures").select(
        F.col(id_col).alias("__cb"), *[F.col(c).alias(f"b_{c}") for c in scols]
    )
    joined = cand.join(a, F.col("new_id") == F.col("__na")).join(
        b, F.col("corpus_id") == F.col("__cb")
    )
    matches = sum(
        (F.col(f"a_{c}") == F.col(f"b_{c}")).cast("int") for c in scols
    )
    return (
        joined.select(
            "new_id",
            "corpus_id",
            F.floor(matches * 10000 / num_hashes).alias("est_bp"),
        )
        .filter(F.col("est_bp") >= threshold_bp)
    )


def dedup_ingest_foreach_batch(
    path: str,
    accepted_dir: str,
    duplicates_dir: str,
    threshold_bp: int = 5000,
    id_col: str = "doc_id",
    text_col: str = "text",
    compact_every: int | None = 16,
    **check_kw,
):
    """Streaming dedup-at-ingest: a ``foreachBatch`` function that, per
    micro-batch, (1) collapses exact in-batch duplicates to the lowest
    id, (2) checks survivors against the PERSISTED index, (3) routes
    near-dups to ``duplicates_dir`` (with the matched corpus id and the
    estimate) and novel docs to ``accepted_dir``, and (4) ADMITS only
    the novel docs into the index — so a duplicate arriving in a LATER
    batch is caught by the earlier batch's admission.

    Composition of already-audited pieces: the exact in-batch collapse
    is one md5-key aggregate over the batch; the index check is the
    band probe + signature verify (corpus text never read); the
    admission is a frozen-family append. State across batches lives in
    the index artifacts, not in Spark state — restarts pick up where
    the index left off.

    Replay: the epoch commits as ``{path}/ingest/e{N}`` (the
    ``operators/epoch_log.py`` protocol) after the index admission, so
    a redelivered committed epoch returns before writing anything. The
    outputs are appends, not epoch dirs, so a crash before the commit
    still leaves a window: the replay re-appends the epoch's routed
    rows, and after a crash between the ``dedup_index_add`` append and
    the commit it also finds the epoch's own docs in the index and logs
    them as duplicates of themselves.

    ``compact_every``: every Nth epoch (by the streaming batchId), the
    append-grown index is folded back to built shape via
    ``dedup_index_compact`` (VERDICT r6 #4 — each append adds parquet
    files to both tables and caps buckets only per-batch, so a long
    stream otherwise accumulates O(batches) files and cap x batches
    bucket rows). ``None`` disables (run the compaction as an external
    maintenance job instead)."""

    def fn(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        if _ingest_committed(path, epoch_id):
            return
        # exact in-batch collapse: lowest id survives per exact text
        keep = (
            batch_df.groupBy(F.md5(F.col(text_col)).alias("__k"))
            .agg(F.min(id_col).alias(id_col))
            .drop("__k")
        )
        batch = batch_df.join(keep, id_col, "left_semi").persist()
        caches: list = []
        try:
            hits = dedup_check_incremental(
                spark, path, batch, threshold_bp=threshold_bp,
                id_col=id_col, text_col=text_col,
                cache_registry=caches, **check_kw,
            ).persist()
            try:
                dup_ids = hits.select(
                    F.col("new_id").alias(id_col)
                ).distinct()
                best = hits.groupBy("new_id").agg(
                    F.max_by("corpus_id", F.struct("est_bp", "corpus_id"))
                    .alias("matched_corpus_id"),
                    F.max("est_bp").alias("est_bp"),
                )
                (
                    batch.join(
                        best, batch[id_col] == best["new_id"]
                    ).drop("new_id")
                    .write.mode("append").parquet(duplicates_dir)
                )
                fresh = batch.join(dup_ids, id_col, "left_anti")
                fresh.write.mode("append").parquet(accepted_dir)
                dedup_index_add(
                    spark, path, fresh, id_col=id_col, text_col=text_col
                )
                commit(epoch_dir(path, _INGEST, epoch_id))
            finally:
                hits.unpersist()
        finally:
            batch.unpersist()
            for c in caches:
                c.unpersist()
        if compact_every and epoch_id > 0 and epoch_id % compact_every == 0:
            dedup_index_compact(spark, path, id_col=id_col)

    return fn


def dedup_index_remove(
    spark: SparkSession,
    path: str,
    remove_ids,
    id_col: str = "doc_id",
) -> dict:
    """Remove documents from the index (the takedown/right-to-erasure
    path): anti-join the signature table against the removal set, then
    RE-DERIVE the bucket table from the remaining signatures (re-band +
    re-cap) — so survivors that the representative cap trimmed at
    build/add time are promoted back into buckets their removed
    representatives vacated (VERDICT r5 #7: an anti-join on buckets
    alone shrank capped buckets permanently, and a bucket whose every
    representative was removed went silently blind to content the
    corpus still holds). The rewrite touches only index METADATA
    (ids + 8 hex sigs per doc — KBs per million docs), never corpus
    text; the banding/capping replay is the same bounded window the
    build runs, on the signature table.

    Removal ids broadcast (a takedown batch is small by contract).
    Returns {"docs_removed": n}."""
    import shutil

    if not isinstance(remove_ids, DataFrame):
        remove_ids = spark.createDataFrame(
            [(int(i),) for i in remove_ids], f"{id_col} long"
        )
    ids = F.broadcast(remove_ids.select(id_col).distinct())
    marker = os.path.join(path, _COMPLETE)
    rec = read_marker(marker) or {}
    if "max_bucket_size" not in rec:
        # refuse BEFORE invalidating the marker (r6 advice #3): a
        # legacy/absent marker leaves the build cap unknown and a
        # default-capped rewrite would silently change bucket shape
        raise ValueError(
            f"dedup index marker at {path} is missing or predates the "
            "max_bucket_size record; rebuild with build_dedup_index "
            "before removing documents."
        )
    if os.path.exists(marker):
        os.remove(marker)  # crash mid-rewrite leaves the index invalid,
        # not silently half-rewritten
    before = spark.read.parquet(f"{path}/signatures").count()
    sig_src = f"{path}/signatures"
    sig_staging = f"{path}/.signatures.rewrite"
    spark.read.parquet(sig_src).join(ids, id_col, "left_anti").write.mode(
        "overwrite"
    ).parquet(sig_staging)
    shutil.rmtree(sig_src)
    os.rename(sig_staging, sig_src)
    remaining = spark.read.parquet(sig_src)
    # buckets come back from the SURVIVING signatures, not an anti-join
    # on the capped bucket rows — the signature table is the uncapped
    # source of truth, so the re-cap admits previously-trimmed docs
    _rebuild_buckets(spark, path, remaining, rec, id_col)
    rec["fingerprint"] = corpus_fingerprint(remaining, id_col)
    write_marker(marker, rec)
    return {"docs_removed": before - remaining.count()}


def _rebuild_buckets(
    spark: SparkSession, path: str, signatures: DataFrame, rec: dict,
    id_col: str,
) -> None:
    """Staging-swap rewrite of the bucket table from a signature table,
    using the marker-recorded hash family and cap. The cap is REQUIRED
    in the marker (r6 advice #3): a legacy marker without the key may
    describe an uncapped or custom-cap build, and silently re-capping
    at the current default would change the bucket table's shape
    relative to its build — refuse and point at a rebuild instead."""
    import shutil

    if "max_bucket_size" not in rec:
        raise ValueError(
            f"dedup index marker at {path} predates the max_bucket_size "
            "record; its build cap is unknown, so a bucket rewrite could "
            "silently re-cap it differently. Rebuild the index with "
            "build_dedup_index to upgrade the marker."
        )
    num_hashes = int(rec.get("num_hashes", 8))
    rows_per_band = int(rec.get("rows_per_band", 2))
    cap = rec["max_bucket_size"]
    bkt_staging = f"{path}/.buckets.rewrite"
    _capped(
        _banded(signatures, id_col, num_hashes, rows_per_band), id_col, cap
    ).write.mode("overwrite").parquet(bkt_staging)
    shutil.rmtree(f"{path}/buckets")
    os.rename(bkt_staging, f"{path}/buckets")


def dedup_index_compact(
    spark: SparkSession,
    path: str,
    num_files: int | None = None,
    id_col: str = "doc_id",
) -> dict:
    """Fold an append-grown index back to freshly-built shape (VERDICT
    r6 #4: every `dedup_index_add` appends parquet files to both
    tables and caps buckets only per-batch, so a long ingest stream
    accumulates O(batches) small files and up to cap x batches rows
    per bucket). Rewrites the signature table (coalesced to
    ``num_files`` when given) and re-derives the bucket table from it
    with ONE global re-cap — the same staging-swap + marker-out/
    marker-in crash discipline as `dedup_index_remove`. Contents are
    unchanged, so the stored fingerprint carries over; the membership/
    check results before and after are identical by construction
    (asserted in tests).

    Returns {"signature_files": n} (the post-compaction file count)."""
    import shutil

    marker = os.path.join(path, _COMPLETE)
    rec = read_marker(marker) or {}
    if "max_bucket_size" not in rec:
        raise ValueError(
            f"dedup index marker at {path} is missing or predates the "
            "max_bucket_size record; rebuild with build_dedup_index "
            "before compacting."
        )
    if os.path.exists(marker):
        os.remove(marker)  # crash mid-rewrite leaves the index invalid
    sig_src = f"{path}/signatures"
    sig_staging = f"{path}/.signatures.rewrite"
    sig = spark.read.parquet(sig_src)
    if num_files is not None:
        sig = sig.coalesce(num_files)
    sig.write.mode("overwrite").parquet(sig_staging)
    shutil.rmtree(sig_src)
    os.rename(sig_staging, sig_src)
    compacted = spark.read.parquet(sig_src)
    _rebuild_buckets(spark, path, compacted, rec, id_col)
    write_marker(marker, rec)
    n_files = len(
        [n for n in os.listdir(sig_src) if n.endswith(".parquet")]
    )
    return {"signature_files": n_files}


def dedup_index_add(
    spark: SparkSession,
    path: str,
    new_docs: DataFrame,
    num_hashes: int = 8,
    rows_per_band: int = 2,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_bucket_size: int | None = 32,
) -> None:
    """Admit NEW docs into the index: append their signatures and bucket
    rows (frozen hash family — MinHash trains nothing, so appends are
    exact) and fold them into the stored fingerprint. The bucket cap
    applies PER APPEND BATCH (a stored bucket can hold up to
    cap × batches rows until a rebuild re-caps it — the standard
    compaction trade of append-only indexes)."""
    scols = _sig_cols(num_hashes)
    nsig = with_minhash_signatures(
        new_docs.select(id_col, text_col), text_col, num_hashes, k
    ).select(id_col, *scols)
    nsig.write.mode("append").parquet(f"{path}/signatures")
    _capped(
        _banded(nsig, id_col, num_hashes, rows_per_band),
        id_col, max_bucket_size,
    ).write.mode("append").parquet(f"{path}/buckets")
    marker = os.path.join(path, _COMPLETE)
    rec = read_marker(marker) or {}
    rec["fingerprint"] = _add_fingerprints(
        rec.get("fingerprint"), corpus_fingerprint(new_docs, id_col)
    )
    write_marker(marker, rec)


def dedup_index_check(
    spark: SparkSession, path: str, full: bool = True
) -> DataFrame:
    """``CheckIndex`` for the persisted MinHash-LSH dedup index
    (VERDICT r12 #4). This family does NOT use the generation
    protocol — its artifacts are flat append-only tables (signatures/
    buckets) under one marker, the pq_index shape — so the checker is
    self-contained but reports the same ``(check, artifact, status,
    detail)`` rows with the same PASS / WARN (legacy, servable) / FAIL
    (marker and artifacts disagree — rebuild) convention.

    Metadata level (zero data IO): marker parse, the hash-family
    params recorded (a legacy marker without ``max_bucket_size`` is
    WARN — remove/compact refuse on it already), both artifact dirs
    present, staging/leftover sweep.

    Full level, column-pruned aggregates: signature count/max/sum of
    ids vs the marker fingerprint (the fold ``dedup_index_add``
    maintains), signature ids unique + non-null (a duplicate id is
    verified twice and reported twice), every bucket doc_id present in
    signatures (the candidate join promotes bucket hits to signature
    verification — an orphan bucket row can never verify), and every
    ``band_idx`` within the hash family's band count."""
    rows = CheckReport()
    add = rows.add
    rec = check_marker(rows, path)
    if rec is None:
        return rows.frame(spark)
    nh, rpb = rec.get("num_hashes"), rec.get("rows_per_band")
    add(
        "hash_family_recorded",
        "",
        (isinstance(nh, int) and nh > 0 and isinstance(rpb, int) and rpb > 0)
        or "FAIL",
        f"num_hashes={nh!r}, rows_per_band={rpb!r} — new arrivals must "
        "signature with the SAME frozen family",
    )
    add(
        "bucket_cap_recorded",
        "",
        ("max_bucket_size" in rec) or "WARN",
        ""
        if "max_bucket_size" in rec
        else "legacy marker without max_bucket_size: remove/compact "
        "refuse until a rebuild upgrades it",
    )
    there = check_dirs_exist(
        rows, path, ("signatures", "buckets"),
        "marker present but artifact missing",
    )
    sweep_leftovers(
        rows, path,
        hidden="crashed staging/swap dir; safe to reclaim when no writer "
        "is running",
    )
    if not full or not there:
        return rows.frame(spark)
    sig = spark.read.parquet(f"{path}/signatures")
    id_col = sig.columns[0]
    st = sig.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct(id_col).alias("nd"),
        F.count(F.when(F.col(id_col).isNull(), True)).alias("nn"),
        F.max(id_col).alias("mx"),
        F.sum(id_col).alias("sm"),
    ).head()
    fp = rec.get("fingerprint")
    if fp:
        ok = (
            int(st["n"]) == int(fp.get("n", -1))
            and (
                fp.get("max_id") is None
                or (st["mx"] is not None and int(st["mx"]) == int(fp["max_id"]))
            )
            and (
                fp.get("sum_id") is None
                or (st["sm"] is not None and int(st["sm"]) == int(fp["sum_id"]))
            )
        )
        add(
            "signatures_match_fingerprint",
            "signatures",
            ok or "FAIL",
            f"signatures n={st['n']}/max={st['mx']}/sum={st['sm']} vs "
            f"marker fingerprint {fp}",
        )
    else:
        add(
            "signatures_match_fingerprint",
            "signatures",
            "WARN",
            "legacy marker without fingerprint: staleness cannot detect "
            "a swapped corpus — rebuild to restore it",
        )
    n_null = int(st["nn"])
    add(
        "sig_ids_non_null",
        "signatures",
        n_null == 0 or "FAIL",
        f"{n_null} NULL id rows — unmatchable by the verify join"
        if n_null
        else "",
    )
    add(
        "sig_ids_unique",
        "signatures",
        int(st["n"]) - n_null == int(st["nd"]) or "FAIL",
        f"{int(st['n']) - n_null} non-null rows, {st['nd']} distinct ids "
        "— a duplicate is verified and reported twice per candidate",
    )
    buckets = spark.read.parquet(f"{path}/buckets")
    orphan = (
        buckets.select(F.col(id_col))
        .join(sig.select(id_col), id_col, "left_anti")
        .count()
    )
    add(
        "bucket_ids_in_signatures",
        "buckets",
        orphan == 0 or "FAIL",
        f"{orphan} bucket rows whose doc_id has no signature — their "
        "candidates can never verify, silently dropping near-dups",
    )
    if isinstance(nh, int) and isinstance(rpb, int) and nh > 0 and rpb > 0:
        n_bands = nh // rpb
        out_of_range = buckets.filter(
            (F.col("band_idx") < 0) | (F.col("band_idx") >= n_bands)
        ).count()
        add(
            "band_idx_in_range",
            "buckets",
            out_of_range == 0 or "FAIL",
            f"{out_of_range} rows with band_idx outside [0, {n_bands}) "
            "— written by a different hash family than the marker's",
        )
    return rows.frame(spark)
