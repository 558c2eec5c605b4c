"""Structured Streaming pipelines (SURVEY §2.9).

The reference is request-driven with background queues; its streaming analogs are:
- ST1 background ingest  -> readStream + foreachBatch running plans.ingest
- ST2 session batches    -> session_window(gap) aggregation with watermark
- ST3 context window     -> last-N sliding buffer (batch form in operators.windows)
- ST5 decayed counters   -> per-micro-batch MERGE; replay-safe because decay is
                            computed from event timestamps, not arrival order.

These run against file/rate sources in tests (no Kafka in the container); the
transformations are source-agnostic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..semantics import EMA_HALF_LIFE_DAYS


def sessionized_messages(stream: DataFrame, gap: str = "30 minutes",
                         watermark: str = "1 hour") -> DataFrame:
    """ST2 (services/message_batch_analysis.py:122-523): group messages into
    per-conversation session windows; emit per-session aggregates once the
    watermark passes (late data within 1h is merged, later dropped)."""
    return (
        stream.withWatermark("event_time", watermark)
        .groupBy(
            F.session_window("event_time", gap).alias("session"),
            F.col("conversation_id"),
        )
        .agg(
            F.count("*").alias("message_count"),
            F.min("event_time").alias("session_start"),
            F.max("event_time").alias("session_end"),
        )
    )


def windowed_event_counts(stream: DataFrame, width: str = "5 minutes",
                          slide: str | None = None,
                          watermark: str = "10 minutes") -> DataFrame:
    """ST8 tumbling/sliding windowed aggregation over the events stream."""
    win = F.window("ts", width, slide) if slide else F.window("ts", width)
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(win.alias("window"), F.col("event_type"))
        .agg(F.count("*").alias("event_count"), F.sum("value").alias("value_sum"))
    )


def _migrate_unpartitioned_state(spark, state_dir: str) -> None:
    """One-time state-layout migration (ADVICE r12).

    State tables written by the pre-partitioning handlers were plain
    parquet part-files at the directory ROOT (``batch_id`` as a data
    column); the current handlers write ``partitionBy('batch_id')``
    subdirectories.  Spark cannot read the mixed layout (the partition
    directory turns ``batch_id`` into a partition column that collides
    with the root files' data column), and the pruned idempotence read
    (``batch_id == N``) would never see root-level rows.  So: detect
    root part-files, move them into a ``_premigration`` staging dir
    (underscore-prefixed == invisible to Spark readers; per-file rename
    is atomic, so a crash mid-move converges on the next call), rewrite
    them into the partitioned layout, then drop the staging dir.  ALL
    migrated rows land in ``batch_id=-1`` — pre-history: a data-column
    batch_id from the old layout numbers a DEAD checkpoint's batches,
    and keeping it would collide with the new stream's own numbering
    (the replay-exclusion read ``batch_id != current`` would silently
    drop old batch-0 state during the new batch 0, un-deduplicating
    re-delivered events).  Pre-history sorts before every real batch
    and is the first to age out under any horizon.

    At-least-once caveat (documented, matching the handlers' own replay
    story): a crash between the staged write and the staging-dir delete
    re-appends the staged rows on the next call; the anti-join dedup
    reads are insensitive to duplicate state rows, so correctness holds
    — only state size pays until the horizon ages the extra rows out.
    """
    import os
    import shutil

    if not os.path.isdir(state_dir):
        return
    staging = os.path.join(state_dir, "_premigration")
    root_files = [f for f in os.listdir(state_dir)
                  if f.endswith(".parquet") and not f.startswith(("_", "."))]
    if root_files:
        os.makedirs(staging, exist_ok=True)
        for f in root_files:
            os.replace(os.path.join(state_dir, f), os.path.join(staging, f))
    if not os.path.isdir(staging):
        return
    staged = [os.path.join(staging, f) for f in os.listdir(staging)
              if f.endswith(".parquet")]
    if staged:
        old = spark.read.parquet(*staged)
        if "batch_id" in old.columns:
            old = old.drop("batch_id")
        old = old.withColumn("batch_id", F.lit(-1))
        old.write.mode("append").partitionBy("batch_id").parquet(state_dir)
    shutil.rmtree(staging)


#: batches a cross-batch-state stream may run with ``retain_batches=None``
#: before the handlers warn: the unbounded dedup horizon is correct for a
#: bounded backfill, but on a forever-stream the seen-state and its
#: anti-join read grow O(stream lifetime) — silently scale-hostile
#: (VERDICT r12 task 6).
UNBOUNDED_STATE_WARN_BATCHES = 100


def _warn_unbounded_horizon(fn_name: str, batch_id: int,
                            warned: list[bool]) -> None:
    """Warn ONCE per stream once batch_id crosses the threshold with no
    retention horizon set.  A list-cell flag (not a bare bool) so the
    closure can mark it from inside foreachBatch."""
    if warned[0] or batch_id < UNBOUNDED_STATE_WARN_BATCHES:
        return
    warned[0] = True
    import warnings

    warnings.warn(
        f"{fn_name}: {batch_id} micro-batches with retain_batches=None — "
        f"the cross-batch dedup state and its per-batch anti-join read grow "
        f"with stream lifetime. Pass retain_batches=<N> to bound both "
        f"(events re-delivered more than N batches after first ingest would "
        f"then re-append; pick N above the source's re-delivery window).",
        RuntimeWarning, stacklevel=3)


class BatchCompletionListener:
    """ST7 webhook analog (services/webhook_service.py): observe micro-batch
    completions and invoke a callback with {batch_id, numInputRows, timestamp}.

    Wraps a StreamingQueryListener; the callback is where a real deployment
    posts the webhook.  Attach with ``spark.streams.addListener(listener)``.
    """

    def __init__(self, callback):
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                outer.callback({
                    "batch_id": p.batchId,
                    "num_input_rows": p.numInputRows,
                    "timestamp": p.timestamp,
                })

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.callback = callback
        self.listener = _L()

    def attach(self, spark):
        spark.streams.addListener(self.listener)
        return self

    def detach(self, spark):
        spark.streams.removeListener(self.listener)


def decayed_counter_updates(batch: DataFrame, counters: DataFrame, key_col: str,
                            ts_col: str = "ts",
                            half_life_days: float = EMA_HALF_LIFE_DAYS) -> DataFrame:
    """ST5/R9 per-micro-batch counter merge, replay-safe: new_ema =
    old_ema * 0.5^((batch_max_ts - old_ts)/hl) + sum(hits decayed to batch_max_ts).

    Pure DataFrame merge (works under foreachBatch); with Delta this is MERGE INTO.
    """
    batch_ref = batch.agg(F.max(ts_col).alias("_ref")).select("_ref")
    b = batch.crossJoin(F.broadcast(batch_ref))
    delta_days = (F.unix_timestamp(F.col("_ref")) - F.unix_timestamp(F.col(ts_col))) / 86400.0
    hits = b.groupBy(key_col).agg(
        F.sum(F.pow(F.lit(0.5), delta_days / half_life_days)).alias("hit_ema"),
        F.count("*").cast("double").alias("hit_count"),
        F.max("_ref").alias("ref_ts"),
    )
    joined = counters.join(hits, key_col, "full_outer")
    # state advances to the NEWEST of (stored ts, batch ref): a replayed or
    # late batch whose max ts predates the stored timestamp must not run the
    # decay backwards (0.5^negative > 1 would INFLATE the ema and regress
    # ema_updated_at — round-5 review finding, the same clamp
    # api.record_feedback already applies).  Both terms decay forward to the
    # common reference, so the result equals the order-free batch-sum
    # identity regardless of arrival order.
    eff_ref = F.greatest(
        F.coalesce(F.col("ref_ts"), F.col("ema_updated_at")),
        F.coalesce(F.col("ema_updated_at"), F.col("ref_ts")),
    )
    old_decayed = F.coalesce(F.col("ema"), F.lit(0.0)) * F.pow(
        F.lit(0.5),
        (F.unix_timestamp(eff_ref)
         - F.unix_timestamp(F.col("ema_updated_at"))) / 86400.0 / half_life_days,
    )
    hits_decayed = F.coalesce(F.col("hit_ema"), F.lit(0.0)) * F.pow(
        F.lit(0.5),
        (F.unix_timestamp(eff_ref)
         - F.unix_timestamp(F.coalesce(F.col("ref_ts"), eff_ref)))
        / 86400.0 / half_life_days,
    )
    return joined.select(
        F.col(key_col),
        (F.coalesce(old_decayed, F.lit(0.0)) + hits_decayed).alias("ema"),
        (F.coalesce(F.col("hit_total"), F.lit(0.0)) + F.coalesce(F.col("hit_count"), F.lit(0.0))).alias("hit_total"),
        eff_ref.alias("ema_updated_at"),
    )


def foreach_batch_decontaminate(stream: DataFrame, eval_grams: DataFrame,
                                checkpoint: str, on_result,
                                *, n: int = 8, fpp: float = 0.01,
                                n_eval_grams: int | None = None,
                                id_col: str = "doc_id",
                                text_col: str = "text"):
    """Streaming benchmark decontamination (r10): every micro-batch of
    (id, text) rows is flagged against a held-out eval suite's word
    ``n``-grams — the GPT-3 appendix-C check as an INGEST stage instead of
    a corpus-wide sweep.

    The expensive side is paid ONCE, at wiring time: the eval grams
    aggregate into a Bloom bitmap (operators/bloom.bloom_build — a long[]
    sidecar sized by ``optimal_params``) and the exact-refine gram table is
    localCheckpointed; each micro-batch then costs O(batch grams) — codegen
    bitmap probes + a refine join against survivors only.  No false
    negatives by construction, refine kills false positives, so flags are
    bit-identical to the plain join (the ``contamination_bloom`` gate row's
    contract).

    ``on_result(clean_df, flagged_df, batch_id)`` receives the split batch
    (original columns; ``flagged_df`` additionally carries
    ``n_shared_ngrams``) — ship ``clean_df`` onward, quarantine the rest.
    Replay-safe: flags are a pure function of (batch, eval set), so a
    re-delivered micro-batch produces identical splits.  ``n_eval_grams``
    sizes the bitmap without an extra count when the caller already knows
    it."""
    from ..operators import bloom

    n_grams = (n_eval_grams if n_eval_grams is not None
               else eval_grams.count())
    num_bits, k = bloom.optimal_params(max(1, n_grams), fpp)
    bits = bloom.bloom_build(eval_grams, "gram", num_bits, k)
    eg = eval_grams.select("gram").localCheckpoint(eager=True)

    def sink(batch_df: DataFrame, batch_id: int):
        flags = bloom.ngram_contamination_flags(
            batch_df, eg, bits, num_bits, k, n=n,
            id_col=id_col, text_col=text_col).localCheckpoint(eager=True)
        clean = batch_df.join(
            flags.filter(F.col("contaminated") == 1).select(id_col),
            id_col, "left_anti")
        flagged = batch_df.join(
            flags.filter(F.col("contaminated") == 1)
            .select(id_col, "n_shared_ngrams"), id_col)
        on_result(clean, flagged, batch_id)

    return (stream.writeStream.foreachBatch(sink)
            .option("checkpointLocation", checkpoint)
            .outputMode("update"))


def foreach_batch_corpus_maintenance(stream: DataFrame, state_dir: str,
                                     checkpoint: str, *, eps: float,
                                     jaccard_threshold: float = 0.5,
                                     hash_fn: str = "md5",
                                     on_verdict=None,
                                     compact_every: int | None = None,
                                     compact_partitions: int = 32,
                                     on_drift=None,
                                     drift_every: int = 1,
                                     drift_window: int = 3,
                                     max_bucket: int | None = None):
    """Continuous corpus maintenance: every micro-batch of
    (doc_id, text, embedding) rows is verdicted against the persisted corpus
    state (plans/corpus.corpus_increment — exact / near_dup / semantic /
    kept) and its exact-surviving members append to state, so batch N+1
    dedups against batch N without any full-corpus rescan.  The streaming
    twin of the batch pipeline's stateful sibling; state must be initialized
    once with ``corpus_init``.

    ``on_verdict(verdict_df, batch_id)`` receives each batch's verdict frame
    (already localCheckpointed — safe to use after state mutates); the
    retained slice is what a downstream writer ships to training shards.

    Replay-safe under foreachBatch's at-least-once contract:
    ``corpus_increment`` excludes the current batch's doc_ids from every
    state view and anti-joins its appends, so a re-delivered micro-batch
    (crash between the state append and the checkpoint commit) reproduces
    the ORIGINAL verdicts and converges to exactly-once state instead of
    classifying its own half-written rows as duplicates.  Requires globally
    unique doc_ids across batches (the state's key contract).

    ``compact_every=N`` runs ``corpus_compact`` after every Nth micro-batch:
    each increment appends one file group per state table, so an unbounded
    stream degrades into the small-files problem without periodic rewrite.
    The sink is the single maintenance owner (foreachBatch serializes
    batches), which is exactly the no-concurrent-increment contract
    corpus_compact requires; a replayed batch re-compacts harmlessly.

    ``on_drift(status, batch_id)`` (checked every ``drift_every`` batches,
    pooled over the last ``drift_window`` increments) receives the
    ``corpus_drift_status`` dict whenever ``status["drifted"]`` is True —
    the hook where a deployment schedules ``corpus_recluster``.  The sink
    does NOT recluster automatically: the remap rewrites the members table
    and retrains the codebook, a maintenance decision (and a wall-clock
    cost) that belongs to the operator, not to a micro-batch boundary."""
    from ..plans import corpus

    def sink(batch_df: DataFrame, batch_id: int):
        docs = batch_df.select("doc_id", "text")
        emb = batch_df.select("doc_id", "embedding")
        v = corpus.corpus_increment(
            batch_df.sparkSession, docs, emb, state_dir, eps=eps,
            jaccard_threshold=jaccard_threshold, hash_fn=hash_fn,
            max_bucket=max_bucket)
        if on_verdict is not None:
            on_verdict(v, batch_id)
        if on_drift is not None and batch_id % max(drift_every, 1) == 0:
            status = corpus.corpus_drift_status(
                batch_df.sparkSession, state_dir, window=drift_window)
            if status["drifted"]:
                on_drift(status, batch_id)
        if compact_every and batch_id > 0 and batch_id % compact_every == 0:
            corpus.corpus_compact(batch_df.sparkSession, state_dir,
                                  target_partitions=compact_partitions)

    return (stream.writeStream.foreachBatch(sink)
            .option("checkpointLocation", checkpoint)
            .outputMode("update"))


def foreach_batch_crawl_ingest(stream: DataFrame, state_dir: str,
                               checkpoint: str, eval_grams: DataFrame,
                               *, eps: float,
                               jaccard_threshold: float = 0.5,
                               n: int = 8, fpp: float = 0.01,
                               n_eval_grams: int | None = None,
                               embed=None, on_batch=None,
                               blocklist: DataFrame | None = None,
                               max_bucket: int | None = 10_000):
    """Streaming crawl ingest (r11, VERDICT r9 task 7): the ST1 analog of
    the crawl chain — every micro-batch of WARC records (from
    sources/warc.read_warc_stream; ``text`` carries the decoded HTML for
    response records) runs the full front-end:

        domain-blocklist filter (r12, when ``blocklist`` {domain} is
        given — blocked URLs never reach extraction or state)
        -> html_to_text(mark_links) -> boilerplate prune (Arrow kernel)
        -> URL canonicalization + cross-batch seen-URL dedup
        -> Bloom benchmark decontamination (bitmap built ONCE at wiring
           time and reused across micro-batches — the operators/bloom
           streaming contract)
        -> corpus_increment (exact / MinHash / SemDeDup vs state, state
           appended)

    State layout: the corpus state at ``state_dir`` (initialize once with
    ``corpus_init``) plus a ``seen_urls`` parquet beside it
    ({canonical_url, batch_id}).

    Replay safety (at-least-once foreachBatch): every stage is either a
    pure function of the batch (extract/prune/flags) or excludes this
    batch's own writes from its state view — seen-URL dedup filters out
    rows with the CURRENT batch_id before the anti-join and skips
    re-appending URLs already present, and corpus_increment carries its
    own exclusion/anti-join contract — so a re-delivered micro-batch
    reproduces its original verdicts and converges to exactly-once state.

    Doc identity: ``doc_id = xxhash64(canonical_url)`` — deterministic
    across replays, and globally unique across batches BECAUSE the
    seen-URL stage drops re-crawled URLs before the increment (the
    increment's doc_id uniqueness contract).  ``embed`` defaults to the
    deterministic hash embedder (plans/ingest.hash_embed_arrow); pass a
    callable ``df -> df+embedding`` to use a real model.

    ``max_bucket`` (r15, default 10k — found by the 600k streaming-crawl
    probe): a crawl wave of boilerplate near-identical pages (error
    pages, templates) collides every doc into the same MinHash band
    buckets and the increment's candidate join goes quadratic; buckets
    above the cap are skipped for candidate generation (the
    dedup.minhash_candidate_pairs recall trade).  ``None`` restores the
    exact uncapped join.

    ``on_batch(verdict_df, flagged_df, batch_id)`` receives the
    localCheckpointed corpus verdicts for the batch's fresh clean docs and
    the quarantined contaminated slice."""
    import os

    from ..functions import boilerplate as B
    from ..functions import html as H
    from ..functions import urls as U
    from ..operators import bloom
    from ..plans import corpus
    from ..plans.ingest import hash_embed_arrow

    n_grams = (n_eval_grams if n_eval_grams is not None
               else eval_grams.count())
    num_bits, k = bloom.optimal_params(max(1, n_grams), fpp)
    bits = bloom.bloom_build(eval_grams, "gram", num_bits, k)
    eg = eval_grams.select("gram").localCheckpoint(eager=True)
    blk = (blocklist.select("domain").localCheckpoint(eager=True)
           if blocklist is not None else None)
    seen_path = os.path.join(state_dir, "seen_urls")

    def sink(batch_df: DataFrame, batch_id: int):
        spark = batch_df.sparkSession
        if blk is not None:
            # cheapest gate first: blocked domains never pay extraction,
            # and (pure function of the batch) the filter is replay-safe
            batch_df = U.filter_blocked_urls(batch_df, blk, "target_uri")
        marked = batch_df.select(
            F.col("target_uri"),
            H.html_to_text(F.col("text"), mark_links=True).alias("pruned"))
        pages = B.prune_lines_arrow(marked, "pruned").select(
            U.canonical_url(F.col("target_uri")).alias("canonical_url"),
            F.col("pruned").alias("text"))
        # batch-local URL dedup: one row per canonical URL (first by text
        # ascending — deterministic under replay regardless of partition
        # layout)
        pages = pages.groupBy("canonical_url").agg(
            F.min("text").alias("text"))
        # cross-batch seen-URL dedup, excluding THIS batch's own rows
        # (replay safety)
        try:
            seen = spark.read.parquet(seen_path)
        except Exception:
            seen = spark.createDataFrame(
                [], "canonical_url string, batch_id long")
        fresh = pages.join(
            seen.filter(F.col("batch_id") != batch_id)
                .select("canonical_url"),
            "canonical_url", "left_anti")
        docs = fresh.select(
            F.xxhash64("canonical_url").alias("doc_id"),
            "canonical_url", "text").localCheckpoint(eager=True)
        # decontamination: reuse the wiring-time bitmap
        flags = bloom.ngram_contamination_flags(
            docs, eg, bits, num_bits, k, n=n).localCheckpoint(eager=True)
        clean = docs.join(
            flags.filter(F.col("contaminated") == 1).select("doc_id"),
            "doc_id", "left_anti")
        flagged = docs.join(
            flags.filter(F.col("contaminated") == 1)
            .select("doc_id", "n_shared_ngrams"), "doc_id")
        emb_fn = embed or (lambda df: hash_embed_arrow(df, text_col="text"))
        with_emb = emb_fn(clean)
        verdict = corpus.corpus_increment(
            spark, with_emb.select("doc_id", "text"),
            with_emb.select("doc_id", "embedding"), state_dir,
            eps=eps, jaccard_threshold=jaccard_threshold,
            max_bucket=max_bucket)
        # record this batch's fresh URLs (idempotent: skip rows any prior
        # attempt already wrote)
        new_seen = (docs.select("canonical_url")
                    .withColumn("batch_id", F.lit(batch_id))
                    .join(seen.select("canonical_url"),
                          "canonical_url", "left_anti")
                    .localCheckpoint(eager=True))
        new_seen.write.mode("append").parquet(seen_path)
        if on_batch is not None:
            on_batch(verdict, flagged, batch_id)

    return (stream.writeStream.foreachBatch(sink)
            .option("checkpointLocation", checkpoint)
            .outputMode("update"))


def foreach_batch_connector_ingest(stream: DataFrame, state_dir: str,
                                   checkpoint: str, *,
                                   url_col: str = "url",
                                   payload_col: str = "payload",
                                   workspace_col: str | None = None,
                                   retain_batches: int | None = None,
                                   on_batch=None):
    """Streaming connector ingest (r13): the ST1 analog of the connector
    transposition — webhook-shaped events (the reference receives them
    one POST at a time through routers/webhooks; the engine reads them
    as a micro-batched stream of ``{url, payload-JSON[, workspace]}``
    rows) are transposed to memory rows per micro-batch
    (operators/connector.transpose_connector_events) and appended to the
    ``memories`` parquet under ``state_dir``.

    Replay safety (at-least-once foreachBatch): event identity is
    ``event_id = xxhash64(url, payload)`` — deterministic across
    replays; each batch anti-joins the cross-batch ``seen_events``
    table (excluding rows the CURRENT batch_id wrote, so a re-delivered
    batch reproduces its original output) and skips re-appending ids
    already present — state converges to exactly-once.

    Transpose errors (e.g. a textless Slack message, the reference's
    ValueError path) are quarantined to ``on_batch(memories, errors,
    batch_id)``, never appended and never fatal to the stream.

    State shape for long-lived streams (ADVICE r11): both state tables
    are written PARTITIONED BY ``batch_id``, so every anti-join read is
    partition-pruned — the memories idempotence check touches only the
    CURRENT batch's partition (the only one a replayed attempt could
    have written), never the full output directory.  The seen_events
    read spans the dedup horizon: with ``retain_batches=N`` it is
    pruned to the last N batch partitions and partitions older than
    the horizon are deleted after each commit, so per-batch cost and
    state size are O(horizon), not O(stream lifetime) — the standard
    watermark trade (an event re-delivered MORE than N batches after
    first ingest would re-append).  ``retain_batches=None`` (default)
    keeps the exact unbounded set: correct for bounded backfills;
    pass a horizon for a forever-running stream — after
    ``UNBOUNDED_STATE_WARN_BATCHES`` micro-batches without one the
    handler warns once (RuntimeWarning, VERDICT r12 task 6)."""
    import os

    from ..operators.connector import transpose_connector_events

    mem_dir = os.path.join(state_dir, "memories")
    seen_dir = os.path.join(state_dir, "seen_events")
    _warned = [False]

    def handle(batch_df, batch_id: int):
        spark = batch_df.sparkSession
        if retain_batches is None:
            _warn_unbounded_horizon("foreach_batch_connector_ingest",
                                    batch_id, _warned)
        _migrate_unpartitioned_state(spark, mem_dir)
        _migrate_unpartitioned_state(spark, seen_dir)
        ev_cols = [url_col, payload_col] + (
            [workspace_col] if workspace_col else [])
        events = (batch_df.select(*ev_cols)
                  .withColumn("event_id",
                              F.xxhash64(F.col(url_col),
                                         F.col(payload_col)))
                  .dropDuplicates(["event_id"])
                  .localCheckpoint(eager=True))
        horizon = (batch_id - retain_batches
                   if retain_batches is not None else None)
        if os.path.isdir(seen_dir):
            seen = (spark.read.parquet(seen_dir)
                    .filter(F.col("batch_id") != batch_id))
            if horizon is not None:  # partition-pruned horizon read
                seen = seen.filter(F.col("batch_id") >= horizon)
            fresh = events.join(seen.select("event_id"),
                                "event_id", "left_anti")
        else:
            fresh = events
        fresh = fresh.localCheckpoint(eager=True)
        out = transpose_connector_events(
            fresh, url_col=url_col, payload_col=payload_col,
            workspace_col=workspace_col,
            passthrough={"event_id": "long"}).localCheckpoint(eager=True)
        memories = out.filter(F.col("error").isNull())
        errors = out.filter(F.col("error").isNotNull())
        # idempotent memories append: a REPLAYED batch recomputes its
        # rows (seen_events excludes the current batch_id above) but
        # must not write them twice — only the CURRENT batch_id's
        # partition could hold a prior attempt's rows, so the
        # idempotence read prunes to that one partition
        to_write = memories.withColumn("batch_id", F.lit(batch_id))
        if os.path.isdir(mem_dir):
            to_write = to_write.join(
                spark.read.parquet(mem_dir)
                .filter(F.col("batch_id") == batch_id)
                .select("event_id"),
                "event_id", "left_anti")
        to_write.write.mode("append").partitionBy("batch_id") \
            .parquet(mem_dir)
        # idempotent seen-id append: skip ids any prior attempt wrote
        # within the horizon (same pruned read as the dedup join)
        new_seen = (events.select("event_id")
                    .withColumn("batch_id", F.lit(batch_id)))
        if os.path.isdir(seen_dir):
            prior = spark.read.parquet(seen_dir)
            if horizon is not None:
                prior = prior.filter(F.col("batch_id") >= horizon)
            new_seen = new_seen.join(prior.select("event_id"),
                                     "event_id", "left_anti")
        new_seen.write.mode("append").partitionBy("batch_id") \
            .parquet(seen_dir)
        if horizon is not None:
            # age out partitions past the dedup horizon: bounds state
            # size AND the pruned read above to O(retain_batches)
            jvm = spark._jvm
            jdir = jvm.org.apache.hadoop.fs.Path(seen_dir)
            fs = jdir.getFileSystem(spark._jsc.hadoopConfiguration())
            if fs.exists(jdir):
                for st in fs.listStatus(jdir):
                    part = st.getPath().getName()
                    if not part.startswith("batch_id="):
                        continue
                    try:
                        old = int(part.split("=", 1)[1])
                    except ValueError:
                        continue
                    if old < horizon:
                        fs.delete(st.getPath(), True)
        if on_batch is not None:
            on_batch(memories, errors, batch_id)

    return (stream.writeStream.foreachBatch(handle)
            .option("checkpointLocation", checkpoint))


def foreach_batch_frontier_ingest(stream: DataFrame, state_dir: str,
                                  checkpoint: str, *,
                                  rules: DataFrame | None = None,
                                  blocklist: list[str] | None = None,
                                  url_col: str = "url",
                                  html_col: str = "html",
                                  retain_batches: int | None = None,
                                  on_batch=None):
    """Streaming frontier discovery (r14): the incremental twin of
    plans/crawl.crawl_frontier — micro-batches of FETCHED pages
    ``{url, html}`` arrive (a fetcher loop feeds pages requested from
    the frontier back in); each batch

        canonicalizes the fetched URLs and records them as seen
        -> extracts + canonicalizes outbound links
        -> anti-joins every URL ever seen (fetched OR already queued)
        -> gates by the domain blocklist and the parsed robots rules
        -> appends the survivors to the ``frontier`` table — the queue
           a fetcher drains for the next wave.

    State shape: both state tables (``seen_urls``, ``frontier``) are
    PARTITIONED BY batch_id with the connector-ingest discipline —
    idempotent replays (a re-delivered batch excludes its own
    batch_id's seen rows and re-derives its original output),
    horizon-pruned anti-join reads, and aged-out partitions deleted
    when ``retain_batches`` is set (the documented watermark trade: a
    URL re-discovered more than N batches after first sight re-queues).
    ``on_batch(new_frontier, batch_id)`` observes each batch's queue
    delta."""
    import os

    from ..functions.html import extract_links
    from ..functions.robots import robots_blocked
    from ..functions.urls import canonical_url, url_blocked

    seen_dir = os.path.join(state_dir, "seen_urls")
    frontier_dir = os.path.join(state_dir, "frontier")
    _warned = [False]

    def handle(batch_df, batch_id: int):
        spark = batch_df.sparkSession
        if retain_batches is None:
            _warn_unbounded_horizon("foreach_batch_frontier_ingest",
                                    batch_id, _warned)
        _migrate_unpartitioned_state(spark, seen_dir)
        _migrate_unpartitioned_state(spark, frontier_dir)
        pages = (batch_df
                 .select(canonical_url(F.col(url_col)).alias(url_col),
                         F.col(html_col))
                 .filter(F.col(url_col).isNotNull())
                 .dropDuplicates([url_col])
                 .localCheckpoint(eager=True))
        links = (pages
                 .select(F.explode(extract_links(
                     F.col(html_col), F.col(url_col))).alias("_raw"))
                 .select(canonical_url(F.col("_raw")).alias(url_col))
                 .distinct())
        horizon = (batch_id - retain_batches
                   if retain_batches is not None else None)
        batch_urls = pages.select(url_col)
        cand = links.join(batch_urls, url_col, "left_anti")
        if os.path.isdir(seen_dir):
            seen = (spark.read.parquet(seen_dir)
                    .filter(F.col("batch_id") != batch_id))
            if horizon is not None:
                seen = seen.filter(F.col("batch_id") >= horizon)
            cand = cand.join(seen.select(url_col), url_col, "left_anti")
        if blocklist:
            cand = cand.filter(~url_blocked(F.col(url_col), blocklist))
        if rules is not None:
            cand = robots_blocked(cand, rules, url_col=url_col)
        cand = cand.localCheckpoint(eager=True)
        # frontier append: idempotent per batch (prune to own partition)
        to_queue = cand.withColumn("batch_id", F.lit(batch_id))
        if os.path.isdir(frontier_dir):
            to_queue = to_queue.join(
                spark.read.parquet(frontier_dir)
                .filter(F.col("batch_id") == batch_id)
                .select(url_col), url_col, "left_anti")
        to_queue.write.mode("append").partitionBy("batch_id") \
            .parquet(frontier_dir)
        # seen append: fetched urls + newly queued urls, deduped within
        # the horizon (same pruned read as the dedup join)
        new_seen = (batch_urls.unionByName(cand)
                    .distinct()
                    .withColumn("batch_id", F.lit(batch_id)))
        if os.path.isdir(seen_dir):
            prior = spark.read.parquet(seen_dir)
            if horizon is not None:
                prior = prior.filter(F.col("batch_id") >= horizon)
            new_seen = new_seen.join(prior.select(url_col),
                                     url_col, "left_anti")
        new_seen.write.mode("append").partitionBy("batch_id") \
            .parquet(seen_dir)
        if horizon is not None:
            jvm = spark._jvm
            jdir = jvm.org.apache.hadoop.fs.Path(seen_dir)
            fs = jdir.getFileSystem(spark._jsc.hadoopConfiguration())
            if fs.exists(jdir):
                for st in fs.listStatus(jdir):
                    part = st.getPath().getName()
                    if not part.startswith("batch_id="):
                        continue
                    try:
                        old = int(part.split("=", 1)[1])
                    except ValueError:
                        continue
                    if old < horizon:
                        fs.delete(st.getPath(), True)
        if on_batch is not None:
            on_batch(cand, batch_id)

    return (stream.writeStream.foreachBatch(handle)
            .option("checkpointLocation", checkpoint))


def foreach_batch_capture_ingest(stream: DataFrame, state_dir: str,
                                 checkpoint: str, *,
                                 url_col: str = "url",
                                 payload_col: str = "payload",
                                 ts_col: str = "ts",
                                 on_batch=None):
    """Streaming CDX capture-index maintenance (r16): the incremental
    twin of plans/crawl.cdx_index + cdx_revisits — micro-batches of
    fetched pages ``{url, payload, ts}`` append to a capture index with
    ONLINE revisit flags:

        batch -> SURT urlkey + sha-256 digest + byte length (cdx_index)
        -> union the PRIOR captures of just the batch's urlkeys
           (left-semi pruned read — a key's history is bounded by its
           recrawl count, the cdx_revisits premise)
        -> per-urlkey revisit/first_capture flags (cdx_revisits window)
        -> append the batch's rows, flags attached, PARTITIONED BY
           batch_id.

    Replay safety (the connector-ingest discipline): the history read
    EXCLUDES the current batch_id (a re-delivered batch re-derives its
    original flags) and the append anti-joins the capture identity
    ``(urlkey, ts, digest)`` against the whole index — state converges
    to exactly-once.  No retention horizon: the capture index IS the
    product (unlike the dedup memos), so nothing ages out here.

    Flag semantics are AS-OF-INGEST: a late-arriving capture (ts older
    than already-indexed ones) is flagged against the history it lands
    in, but flags already stored for later-ts captures are not
    rewritten — the batch recompute over the full index
    (plans/crawl.cdx_revisits) is the authoritative view; the streaming
    flag is the fetcher's online dedup signal (store body vs pointer).

    ``on_batch(flagged, batch_id)`` observes each batch's flagged rows
    (e.g. to route revisit bodies to pointer storage)."""
    import os

    from ..plans.crawl import cdx_index, cdx_revisits

    cap_dir = os.path.join(state_dir, "captures")
    out_cols = ["urlkey", "url", "digest", "length", ts_col]

    def handle(batch_df, batch_id: int):
        spark = batch_df.sparkSession
        caps = (cdx_index(batch_df, url_col=url_col,
                          payload_col=payload_col,
                          extra_cols=(ts_col,))
                .drop("shard")
                .select(*out_cols)
                .withColumn("_new", F.lit(1))
                .localCheckpoint(eager=True))
        if os.path.isdir(cap_dir):
            prior_all = spark.read.parquet(cap_dir)
            prior = (prior_all
                     .filter(F.col("batch_id") != batch_id)
                     .join(caps.select("urlkey"), "urlkey", "left_semi")
                     .select(*out_cols)
                     .withColumn("_new", F.lit(0)))
            hist = caps.unionByName(prior)
        else:
            prior_all = None
            hist = caps
        flagged = (cdx_revisits(hist, key_col="urlkey", ts_col=ts_col,
                                digest_col="digest")
                   .filter(F.col("_new") == 1)
                   .drop("_new")
                   .localCheckpoint(eager=True))
        to_write = flagged.withColumn("batch_id", F.lit(batch_id))
        if prior_all is not None:
            ident = ["urlkey", ts_col, "digest"]
            to_write = to_write.join(
                prior_all.select(*ident), ident, "left_anti")
        to_write.write.mode("append").partitionBy("batch_id") \
            .parquet(cap_dir)
        if on_batch is not None:
            on_batch(flagged, batch_id)

    return (stream.writeStream.foreachBatch(handle)
            .option("checkpointLocation", checkpoint))
