"""Streaming corpus ingestion: ``.warc.gz`` drops -> documents table.

The batch corpus chain (WARC parse -> HTTP filter -> URL
canonicalization -> robots filter -> charset decode -> HTML extraction,
each stage oracle-certified) composed over Structured Streaming
(VERDICT r11 item 5): crawls land as file drops, and the engine's
ingest paths run both ways (SURVEY §2.10). The transform is ONE shared
function (:func:`corpus_documents`) applied identically by the batch
reader and by every micro-batch, so batch/stream equivalence is by
construction — asserted in ``tests/test_corpus_stream.py``.

Sink: the same checkpointed idempotent machinery as CDC ingest —
``foreachBatch`` staging + :func:`.._promote_staged`'s deterministic
``batch-<query>~<id>-<i>`` renames, so a replayed micro-batch (crash
between data write and checkpoint commit) replaces its own output
instead of duplicating it, and a restart against the same checkpoint
never re-reads drained files. Undecodable bodies flow to the
quarantine lane (raw bytes + reason) exactly as in batch.

100 TB design: the file-stream source hands whole ``.warc.gz`` files
to executors (file-granular parallelism, ``maxFilesPerTrigger`` as the
backpressure knob); every stage below is the batch chain's plan —
Arrow map for WARC/decode/extract, codegen for canon, broadcast +
array-aggregate for robots — so the stream inherits the batch plan's
zero-URL-shuffle shape unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..functions.url import canonicalize_url, url_host, url_path
from ..operators.charset import (
    charset_column,
    decode_text_column,
    split_decoded,
)
from ..operators.html import extract_text_column
from ..sources.robots import apply_robots
from ..sources.warc import warc_records

# binaryFile's fixed schema — streaming file sources require it spelled
# out (Spark refuses schema inference on a stream)
_BINARY_FILE_SCHEMA = (
    "path string, modificationTime timestamp, length long, content binary"
)


def _file_stream(
    spark: SparkSession,
    path: str,
    glob: str,
    max_files_per_trigger: int | None,
) -> DataFrame:
    reader = (
        spark.readStream.format("binaryFile")
        .schema(_BINARY_FILE_SCHEMA)
        .option("pathGlobFilter", glob)
    )
    if max_files_per_trigger is not None:
        reader = reader.option(
            "maxFilesPerTrigger", str(max_files_per_trigger)
        )
    return reader.load(path)


def read_warc_file_stream(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming source over a drop directory of ``.warc``/``.warc.gz``
    files (one row per NEW file; the checkpoint's file log makes the
    source exactly-once across restarts)."""
    return _file_stream(spark, path, "*.warc*", max_files_per_trigger)


def _validate_enrich_args(
    classifier_weights=None,
    classifier_hasher: str | None = None,
    score_threshold: float | None = None,
    bpe_merges: list[tuple[str, str]] | None = None,
    bpe_vocab: dict[str, int] | None = None,
) -> None:
    """Argument-pairing checks for the curation funnel, shared between
    :func:`enrich_documents` (the per-batch backstop) and the
    ``start_*`` stream entry points (eager: a misconfigured stream must
    fail at ``start``, not inside ``foreachBatch`` at batch 0 with the
    query already checkpointed)."""
    if classifier_weights is not None:
        from ..operators.classifier import ClassifierModel

        if isinstance(classifier_weights, ClassifierModel):
            if (
                classifier_hasher is not None
                and classifier_hasher != classifier_weights.hasher
            ):
                raise ValueError(
                    f"classifier_hasher={classifier_hasher!r} conflicts "
                    "with the ClassifierModel's trained hasher="
                    f"{classifier_weights.hasher!r} — drop the argument, "
                    "the model carries its own bucket space"
                )
        elif classifier_hasher is None:
            raise ValueError(
                "bare classifier_weights needs an explicit "
                "classifier_hasher naming the bucket space the "
                "weights were trained in (fit_classifier's hasher) "
                "— or pass a ClassifierModel, which carries it"
            )
    if score_threshold is not None and classifier_weights is None:
        raise ValueError(
            "score_threshold requires classifier_weights: the gate "
            "filters on the in-scan classifier_score column"
        )
    if (bpe_merges is None) != (bpe_vocab is None):
        raise ValueError(
            "bpe_merges and bpe_vocab travel together (a merge table "
            "without its vocabulary cannot produce ids) — pass both, "
            "e.g. load_bpe_artifacts(path)"
        )


def _rolling_spec(
    classifier_weights,
    score_threshold: float | None,
    recalibrate_every: int | None,
    calibration_fraction: float | None,
    calibration_window: int,
    calibration_path: str | None,
) -> dict | None:
    """Validate + assemble the rolling-recalibration spec (VERDICT r14
    item 4) for the stream entry points — eager, like
    :func:`_validate_enrich_args`. Returns None when rolling is off."""
    if recalibrate_every is None:
        if calibration_fraction is not None or calibration_path is not None:
            raise ValueError(
                "calibration_fraction/calibration_path only apply with "
                "recalibrate_every (rolling gate recalibration)"
            )
        return None
    if classifier_weights is None:
        raise ValueError(
            "rolling recalibration requires classifier_weights: the "
            "gate thresholds a classifier_score the scan must produce"
        )
    if calibration_path is None:
        raise ValueError(
            "rolling recalibration requires calibration_path (the "
            "batch-stamped hist/ + thresholds/ lane root)"
        )
    from urllib.parse import urlparse

    if urlparse(calibration_path).scheme not in ("", "file"):
        # a remote URI would silently disable recalibration: the
        # staged-promote renames and _lane_before's isdir check are
        # local-filesystem only, so the gate would read an empty lane
        # forever while the stream runs without error
        raise ValueError(
            f"calibration_path={calibration_path!r}: the rolling "
            "lanes are local-filesystem only (os.replace renames + "
            "isdir checks) — mount locally or extend _promote_staged "
            "for remote FS"
        )
    if calibration_fraction is None or not (
        0.0 < calibration_fraction <= 1.0
    ):
        raise ValueError(
            "rolling recalibration requires calibration_fraction in "
            f"(0, 1], got {calibration_fraction}"
        )
    if recalibrate_every < 1 or calibration_window < 1:
        raise ValueError(
            "recalibrate_every and calibration_window must be >= 1"
        )
    return {
        "fraction": float(calibration_fraction),
        "every": int(recalibrate_every),
        "window": int(calibration_window),
        "path": calibration_path,
        "initial": score_threshold,
    }


def enrich_documents(
    docs: DataFrame,
    enrich: bool = False,
    classifier_weights=None,
    classifier_hasher: str | None = None,
    score_threshold: float | None = None,
    bpe_merges: list[tuple[str, str]] | None = None,
    bpe_vocab: dict[str, int] | None = None,
    bpe_pretokenize: str = "gpt2",
    text_col: str = "text",
    topic_weights: "dict[str, list[int]] | None" = None,
) -> DataFrame:
    """The shared curation-funnel stages over any documents frame with
    a ``text`` column — WARC (``corpus_documents``) and WET
    (``start_wet_stream``) ingest both route through here, so the two
    crawl formats get identical in-scan semantics:

    - ``enrich``: language ID + quality score + whitespace token count;
    - ``classifier_weights``: hashed-n-gram scoring (``ClassifierModel``
      carries its bucket space; a bare list REQUIRES
      ``classifier_hasher``);
    - ``score_threshold``: the calibrate-then-broadcast online gate
      (``classifier_score >= t`` as a plan literal);
    - ``topic_weights`` (class name -> micro-weight vector): one-vs-all
      taxonomy tagging in the same scan — ``topic_score_<class>``
      columns + the argmax ``topic`` label, so per-domain mixture
      weighting downstream never re-reads text;
    - ``bpe_merges``+``bpe_vocab``: byte-level tokenization in the same
      scan (``token_ids``/``n_bpe_tokens``).

    Every stage is scan-side (codegen expressions, plan-literal
    weights, broadcast merge table) — zero shuffle added at any scale.
    """
    _validate_enrich_args(
        classifier_weights=classifier_weights,
        classifier_hasher=classifier_hasher,
        score_threshold=score_threshold,
        bpe_merges=bpe_merges,
        bpe_vocab=bpe_vocab,
    )
    if enrich:
        from ..operators.text import (
            detect_language,
            quality_score,
            token_count,
        )

        docs = (
            docs.withColumn("lang", detect_language(text_col))
            .withColumn("quality_score", quality_score(text_col))
            .withColumn("n_tokens", token_count(text_col))
        )
    if classifier_weights is not None:
        from ..operators.classifier import ClassifierModel, score_documents

        if isinstance(classifier_weights, ClassifierModel):
            docs = score_documents(
                docs,
                text_col,
                classifier_weights,
                out_col="classifier_score",
            )
        else:
            docs = score_documents(
                docs,
                text_col,
                classifier_weights,
                out_col="classifier_score",
                hasher=classifier_hasher,
            )
    if score_threshold is not None:
        # the calibrate-then-broadcast online gate (VERDICT r13 item
        # 6): the threshold is a plan literal from
        # operators/classifier.calibrate_threshold — keep >= t inside
        # the same scan that scored, zero extra state or shuffle
        docs = docs.filter(
            F.col("classifier_score") >= F.lit(float(score_threshold))
        )
    if topic_weights:
        from ..operators.classifier import score_documents_multiclass

        docs = score_documents_multiclass(
            docs,
            text_col,
            topic_weights,
            score_prefix="topic_score_",
            label_col="topic",
        )
    if bpe_merges is not None:
        # tokenize INSIDE the ingest scan (same posture as the in-
        # stream classifier): broadcast merges+vocab, one more Arrow
        # stage over the already-extracted text — the stored corpus
        # carries real token_ids/n_bpe_tokens, so packing and budget
        # mixing downstream never re-read or re-tokenize the text
        from ..operators.bpe import bpe_encode

        docs = bpe_encode(
            docs,
            text_col,
            bpe_merges,
            bpe_vocab,
            out_col="token_ids",
            pretokenize=bpe_pretokenize,
        ).withColumn("n_bpe_tokens", F.size("token_ids"))
    return docs


def corpus_documents(
    files: DataFrame,
    rules: DataFrame,
    agent: str = "*",
    enrich: bool = False,
    classifier_weights=None,
    classifier_hasher: str | None = None,
    score_threshold: float | None = None,
    bpe_merges: list[tuple[str, str]] | None = None,
    bpe_vocab: dict[str, int] | None = None,
    bpe_pretokenize: str = "gpt2",
    topic_weights: "dict[str, list[int]] | None" = None,
) -> tuple[DataFrame, DataFrame]:
    """The shared batch/stream transform: ``binaryFile`` rows ->
    ``(documents, quarantine)``. Documents carry the canonical URL,
    resolved charset, and extracted text; quarantine keeps raw bytes +
    reason for undecodable bodies (M5 dead-letter). With ``enrich``
    the curation signals land in the same scan (all pure codegen —
    free at any scale): ``lang`` (marker-lexicon language ID),
    ``quality_score``, and ``n_tokens``. ``classifier_weights`` (the
    micro-unit vector ``operators/classifier.fit_classifier`` trains)
    additionally scores every document in the same scan
    (``classifier_score`` — plan-literal weights, zero shuffle): the
    DCLM/FineWeb-Edu quality filter running INSIDE the ingest stream,
    so downstream selection never re-reads the corpus.
    The bucket space must be the one the weights were TRAINED in:
    md5-trained weights scored through xxhash64 buckets (or vice
    versa) produce silently meaningless scores. Pass a
    ``ClassifierModel`` (``fit_classifier_model``'s artifact) and the
    trained (hasher, seed, bigrams) travel with the weights; with a
    bare weight list ``classifier_hasher`` is REQUIRED (there is no
    default to silently mismatch) and the legacy seed=7/bigrams=True
    apply. ``bpe_merges`` + ``bpe_vocab`` (e.g.
    ``load_bpe_artifacts``'s pair) TOKENIZE in the same scan —
    ``token_ids``/``n_bpe_tokens`` land on every stored document
    (default byte-level GPT-2 mode), so packing and budget mixing
    downstream consume real counts without re-reading text."""
    recs = warc_records(files)
    resp = recs.where(
        (F.col("warc_type") == "response")
        & (F.col("http_status") == 200)
    )
    canon = (
        resp.withColumn("canonical", canonicalize_url(F.col("target_uri")))
        .withColumn("host", url_host("canonical"))
        .withColumn("path", url_path("canonical"))
    )
    allowed = apply_robots(canon, rules, agent=agent).where(
        F.col("crawl_allowed")
    )
    dec = decode_text_column(
        allowed.withColumn(
            "charset", charset_column("content_type", "body")
        ),
        out_col="html",
    )
    good, quar = split_decoded(dec)
    docs = extract_text_column(good, "html", "text").select(
        "file",
        "record_id",
        "canonical",
        "host",
        "content_type",
        "charset",
        "text",
        F.length("text").alias("n_chars"),
    )
    docs = enrich_documents(
        docs,
        enrich=enrich,
        classifier_weights=classifier_weights,
        classifier_hasher=classifier_hasher,
        score_threshold=score_threshold,
        bpe_merges=bpe_merges,
        bpe_vocab=bpe_vocab,
        bpe_pretokenize=bpe_pretokenize,
        topic_weights=topic_weights,
    )
    quarantine = quar.select(
        "file",
        "record_id",
        "canonical",
        "host",
        "content_type",
        "charset",
        "body",
        "reason",
    )
    return docs, quarantine


def read_wet_file_stream(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming source over a drop directory of ``.wet``/``.wet.gz``
    files (Common Crawl extracted text)."""
    return _file_stream(spark, path, "*.wet*", max_files_per_trigger)


def _stage_outputs(
    outputs, batch_id: int, query_name: str
) -> None:
    """Stage-and-promote every ``(frame, root)`` pair under
    deterministic batch-tagged names (`.pipeline._promote_staged`) —
    the ONE idempotent-sink body every file-ingest stream shares.

    Each root is crash-RECOVERED first (one isfile check when clean):
    a compactor that died mid-swap leaves that lane's folded files set
    aside in a hidden dir — without healing here, every batch between
    the restart and the next ``compact_every`` tick would write into a
    silently-partial table that external readers also see."""
    import os

    from .pipeline import _promote_staged

    for frame, root in outputs:
        _recover_lsh_half(root)
        staging = os.path.join(root, f".staging-{query_name}~{batch_id}")
        frame.write.mode("overwrite").parquet(staging)
        _promote_staged(staging, root, batch_id, query_name)


def _start_foreach(
    files_stream: DataFrame,
    process,
    checkpoint_path: str,
    processing_time: str | None,
    query_name: str,
) -> StreamingQuery:
    """Shared writer wiring: checkpointed foreachBatch; with
    ``processing_time=None`` the query drains available files and stops
    (``availableNow`` — the test/backfill mode)."""
    writer = (
        files_stream.writeStream.queryName(query_name)
        .foreachBatch(process)
        .option("checkpointLocation", checkpoint_path)
    )
    if processing_time is None:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()


def _start_multi_ingest(
    files_stream: DataFrame,
    outputs_fn,
    checkpoint_path: str,
    processing_time: str | None,
    query_name: str,
    post_batch=None,
) -> StreamingQuery:
    """Checkpointed foreachBatch sink over
    ``outputs_fn(batch_df, batch_id) -> [(frame, root), ...]``.
    ``post_batch(spark, batch_id)`` runs after the promote, inside the
    foreachBatch body (sequential on the driver) — the in-stream
    maintenance hook."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        _stage_outputs(outputs_fn(batch_df, batch_id), batch_id, query_name)
        if post_batch is not None:
            post_batch(batch_df.sparkSession, batch_id)

    return _start_foreach(
        files_stream, process, checkpoint_path, processing_time, query_name
    )


def _lane_before(
    spark: SparkSession,
    path: str,
    schema: "str | DataFrame",
    batch_id: int,
) -> DataFrame:
    """Committed rows of a batch-stamped lane STRICTLY before
    ``batch_id`` (crash-recovered first) — the ONE lane-read
    discipline every replay-safe reader shares (rolling hist/threshold
    lanes here; the near-dedup store's ``_prior`` delegates too): a
    crashed attempt of the current batch may have promoted its own
    rows, and replays must not see them. Empty/absent lane -> empty
    frame of ``schema`` (a DDL string, or a template DataFrame whose
    ``limit(0)`` supplies the schema). ONLY "no committed data yet"
    takes the empty path — a dir holding nothing but hidden entries
    (a crashed first attempt's ``.staging-*``) would otherwise raise
    UNABLE_TO_INFER_SCHEMA and wedge every replay; any OTHER read
    failure (corrupt footer, transient FS error) must raise, because
    an empty-lane fallback there silently hides committed history."""
    import os

    from pyspark.errors import AnalysisException

    def empty() -> DataFrame:
        if isinstance(schema, str):
            return spark.createDataFrame([], schema)
        return schema.limit(0)

    _recover_lsh_half(path)
    if not os.path.isdir(path) or not any(
        not e.startswith((".", "_")) for e in os.listdir(path)
    ):
        return empty()
    try:
        return spark.read.parquet(path).where(
            F.col("batch") < batch_id
        )
    except AnalysisException as e:
        if "PATH_NOT_FOUND" in str(e):
            return empty()
        raise


def _start_file_ingest(
    files_stream: DataFrame,
    transform,
    table_path: str,
    quarantine_path: str,
    checkpoint_path: str,
    processing_time: str | None,
    coalesce_output: int | None,
    query_name: str,
    compact_every: int | None = None,
    rolling: dict | None = None,
) -> StreamingQuery:
    """The shared checkpointed idempotent sink: per micro-batch,
    ``transform(batch) -> (docs, quarantine)``, both staged and
    promoted under deterministic batch-tagged names.
    ``compact_every=k`` folds both lanes' accumulated batch files every
    k micro-batches (:func:`compact_documents_table` — never the
    newest batch, so replays stay idempotent).

    ``rolling`` enables IN-STREAM gate recalibration (VERDICT r14
    item 4): ``{"fraction", "every", "window", "path", "initial"}``.
    ``transform`` must emit ``classifier_score`` and apply NO static
    gate; per batch the docs are gated with the newest COMMITTED
    threshold (batch < current — so replays see identical state;
    ``initial`` or keep-all before the first calibration), the batch's
    bounded score histogram lands in ``path/hist``, and every
    ``every`` batches a new threshold — calibrated on the trailing
    ``window`` batches' merged histograms INCLUDING the current one —
    is appended to ``path/thresholds``, batch-stamped like the store
    rows. Everything is deterministic from committed state, so a
    replayed batch re-gates and re-calibrates to identical bytes."""
    if rolling is None:

        def outputs(batch_df: DataFrame, batch_id: int):
            docs, quar = transform(batch_df)
            if coalesce_output:
                docs = docs.coalesce(coalesce_output)
                quar = quar.coalesce(1)
            return ((docs, table_path), (quar, quarantine_path))

        post = None
        if compact_every:

            def post(spark, batch_id: int) -> None:
                if batch_id > 0 and batch_id % compact_every == 0:
                    compact_documents_table(spark, table_path)
                    compact_documents_table(spark, quarantine_path)

        return _start_multi_ingest(
            files_stream,
            outputs,
            checkpoint_path,
            processing_time,
            query_name,
            post_batch=post,
        )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark import StorageLevel

        spark = batch_df.sparkSession
        docs, quar = transform(batch_df)
        # the scored frame feeds BOTH the gate and the histogram —
        # persist so the corpus is scored once per batch
        docs = docs.persist(StorageLevel.MEMORY_AND_DISK)
        try:
            gated, extra = _rolling_gate(spark, docs, batch_id, rolling)
            quar_out = quar
            if coalesce_output:
                gated = gated.coalesce(coalesce_output)
                quar_out = quar.coalesce(1)
            outs = [
                (gated, table_path),
                (quar_out, quarantine_path),
                *extra,
            ]
            _stage_outputs(outs, batch_id, query_name)
            if (
                compact_every
                and batch_id > 0
                and batch_id % compact_every == 0
            ):
                compact_documents_table(spark, table_path)
                compact_documents_table(spark, quarantine_path)
                _compact_rolling_lanes(spark, rolling)
        finally:
            docs.unpersist()

    return _start_foreach(
        files_stream, process, checkpoint_path, processing_time, query_name
    )


def _rolling_gate(
    spark: SparkSession,
    docs: DataFrame,
    batch_id: int,
    rolling: dict,
) -> tuple[DataFrame, list]:
    """One batch of the rolling-recalibration loop (shared by the
    plain/WET sinks and the near-dedup sink): gate ``docs`` (must
    carry ``classifier_score``; persist it — both the gate and the
    histogram consume it) with the newest COMMITTED threshold, and
    return ``(gated_docs, extra_outputs)`` where the extras are the
    batch's histogram row-set and, on a calibration tick, the new
    batch-stamped threshold row. Everything derives from committed
    state (``batch < batch_id``) plus the current batch's content, so
    replays reproduce identical bytes."""
    import os

    from ..operators.classifier import (
        calibrate_threshold_from_histogram,
    )

    hist_path = os.path.join(rolling["path"], "hist")
    thr_path = os.path.join(rolling["path"], "thresholds")
    hist = docs.groupBy(
        F.col("classifier_score").alias("score")
    ).agg(F.count("*").alias("n"))
    row = (
        _lane_before(
            spark, thr_path, "threshold double, batch long", batch_id
        )
        .orderBy(F.col("batch").desc())
        .limit(1)
        .collect()
    )
    t = row[0]["threshold"] if row else rolling.get("initial")
    gated = (
        docs.filter(F.col("classifier_score") >= F.lit(float(t)))
        if t is not None
        else docs
    )
    tag = F.lit(batch_id).cast("long").alias("batch")
    extra = [(hist.select("*", tag).coalesce(1), hist_path)]
    if batch_id % rolling["every"] == 0:
        prior_h = _lane_before(
            spark,
            hist_path,
            "score double, n long, batch long",
            batch_id,
        )
        win = (
            prior_h.where(
                F.col("batch") > batch_id - int(rolling["window"])
            )
            .select("score", "n")
            .unionByName(hist)
        )
        t_new = calibrate_threshold_from_histogram(
            win, rolling["fraction"]
        )
        if t_new is not None:
            extra.append(
                (
                    spark.createDataFrame(
                        [(float(t_new),)], "threshold double"
                    )
                    .select("*", tag)
                    .coalesce(1),
                    thr_path,
                )
            )
    return gated, extra


def _compact_rolling_lanes(spark: SparkSession, rolling: dict) -> None:
    """Fold the hist/threshold lanes on the same cadence as the
    document lanes (they accrete one file per batch / per tick)."""
    import os

    compact_documents_table(
        spark, os.path.join(rolling["path"], "hist")
    )
    compact_documents_table(
        spark, os.path.join(rolling["path"], "thresholds")
    )


def start_wet_stream(
    files_stream: DataFrame,
    table_path: str,
    quarantine_path: str,
    checkpoint_path: str,
    processing_time: str | None = None,
    coalesce_output: int | None = None,
    query_name: str = "wet_ingest",
    compact_every: int | None = None,
    enrich: bool = False,
    classifier_weights=None,
    classifier_hasher: str | None = None,
    score_threshold: float | None = None,
    bpe_merges: list[tuple[str, str]] | None = None,
    bpe_vocab: dict[str, int] | None = None,
    bpe_pretokenize: str = "gpt2",
    recalibrate_every: int | None = None,
    calibration_fraction: float | None = None,
    calibration_window: int = 12,
    calibration_path: str | None = None,
    topic_weights: "dict[str, list[int]] | None" = None,
) -> StreamingQuery:
    """WET drops -> documents table, continuously: conversion records
    strictly UTF-8 decoded (quarantine lane for broken bodies) through
    the same checkpointed idempotent sink as the WARC stream. The
    transform is `sources.warc.wet_documents` + the shared
    :func:`enrich_documents` funnel stages (scoring, threshold gate,
    byte-level tokenization) — WET ingest gets the same in-scan
    curation semantics as WARC, batch/stream equivalence by
    construction. ``recalibrate_every`` switches the static gate to
    ROLLING recalibration (see :func:`_start_file_ingest`):
    ``score_threshold`` becomes the initial gate until the first
    calibrated threshold lands in ``calibration_path``."""
    # eager: a misconfigured stream must die HERE, not in foreachBatch
    # at batch 0 with the query already started (ADVICE r14)
    _validate_enrich_args(
        classifier_weights=classifier_weights,
        classifier_hasher=classifier_hasher,
        score_threshold=score_threshold,
        bpe_merges=bpe_merges,
        bpe_vocab=bpe_vocab,
    )
    rolling = _rolling_spec(
        classifier_weights,
        score_threshold,
        recalibrate_every,
        calibration_fraction,
        calibration_window,
        calibration_path,
    )
    from ..sources.warc import wet_documents

    def transform(batch: DataFrame):
        docs, quar = wet_documents(batch)
        docs = enrich_documents(
            docs,
            enrich=enrich,
            classifier_weights=classifier_weights,
            classifier_hasher=classifier_hasher,
            # rolling mode gates per batch in _start_file_ingest with
            # the committed threshold; no static in-scan gate here
            score_threshold=None if rolling else score_threshold,
            bpe_merges=bpe_merges,
            bpe_vocab=bpe_vocab,
            bpe_pretokenize=bpe_pretokenize,
            topic_weights=topic_weights,
        )
        return docs, quar

    return _start_file_ingest(
        files_stream,
        transform,
        table_path,
        quarantine_path,
        checkpoint_path,
        processing_time,
        coalesce_output,
        query_name,
        compact_every=compact_every,
        rolling=rolling,
    )


def start_corpus_stream(
    files_stream: DataFrame,
    rules: DataFrame,
    table_path: str,
    quarantine_path: str,
    checkpoint_path: str,
    agent: str = "*",
    processing_time: str | None = None,
    coalesce_output: int | None = None,
    query_name: str = "corpus_ingest",
    enrich: bool = False,
    classifier_weights=None,
    classifier_hasher: str | None = None,
    score_threshold: float | None = None,
    bpe_merges: list[tuple[str, str]] | None = None,
    bpe_vocab: dict[str, int] | None = None,
    bpe_pretokenize: str = "gpt2",
    compact_every: int | None = None,
    recalibrate_every: int | None = None,
    calibration_fraction: float | None = None,
    calibration_window: int = 12,
    calibration_path: str | None = None,
    topic_weights: "dict[str, list[int]] | None" = None,
) -> StreamingQuery:
    """Run the corpus chain continuously into ``table_path`` with the
    checkpointed idempotent sink (see module docstring). With
    ``processing_time=None`` the query drains available files and
    stops (``availableNow``) — the test/backfill mode.
    ``classifier_weights`` scores every document in-stream (see
    :func:`corpus_documents`); ``compact_every=k`` folds the document
    and quarantine lanes' batch files every k micro-batches
    (:func:`compact_documents_table`). ``recalibrate_every`` switches
    the static ``score_threshold`` gate to ROLLING recalibration
    (VERDICT r14 item 4, see :func:`_start_file_ingest`): every k
    batches a fresh threshold is calibrated from the trailing
    ``calibration_window`` batches' persisted score histograms, so a
    drifting corpus keeps its effective keep-rate instead of silently
    sliding off a calibrate-once literal."""
    # eager arg-pairing check (ADVICE r14): fail at start, not batch 0
    _validate_enrich_args(
        classifier_weights=classifier_weights,
        classifier_hasher=classifier_hasher,
        score_threshold=score_threshold,
        bpe_merges=bpe_merges,
        bpe_vocab=bpe_vocab,
    )
    rolling = _rolling_spec(
        classifier_weights,
        score_threshold,
        recalibrate_every,
        calibration_fraction,
        calibration_window,
        calibration_path,
    )
    return _start_file_ingest(
        files_stream,
        lambda batch: corpus_documents(
            batch,
            rules,
            agent=agent,
            enrich=enrich,
            classifier_weights=classifier_weights,
            classifier_hasher=classifier_hasher,
            score_threshold=None if rolling else score_threshold,
            bpe_merges=bpe_merges,
            bpe_vocab=bpe_vocab,
            bpe_pretokenize=bpe_pretokenize,
            topic_weights=topic_weights,
        ),
        table_path,
        quarantine_path,
        checkpoint_path,
        processing_time,
        coalesce_output,
        query_name,
        compact_every=compact_every,
        rolling=rolling,
    )


# --- LSH-store maintenance ---------------------------------------------------
#
# The near-dedup stream appends one batch-stamped parquet file per
# micro-batch per store half (buckets/ + digests/) — correct, but at a
# 1 s trigger that is ~86k files/day/half, the classic small-files
# hazard. compact_lsh_store() folds committed batch files into a few
# consolidated files while preserving the replay contract: rows keep
# their per-row ``batch`` stamp verbatim, so a replayed micro-batch's
# ``batch < batch_id`` probe filter behaves identically against
# consolidated files, and the newest batch present is NEVER folded by
# default — its promote-then-crash replay must still find (and replace)
# its own ``batch-*`` files by name.
#
# Swap protocol per half (a marker/aside rename swap over flat files):
#
#   1. write consolidated output to ``.compact_staging/``  (invisible)
#   2. write marker ``.compact_swap`` (tmp + rename: atomic)
#   3. move every folded file -> ``.compact_old/``         (set aside)
#   4. rename staged parts -> ``compacted-<gen>-<i>.parquet``
#   5. delete ``.compact_old/``                            (no return)
#   6. delete marker
#
# A crash at any point is classified by _recover_lsh_half(): any final
# ``compacted-<gen>-*`` present => step 4 started => roll FORWARD
# (staged files are all on disk since step 1); none present => roll
# BACK (aside files return under their original names). The stream's
# own _prior() runs recovery before every read, so a crashed compactor
# can never silently hide store rows from the probe. Like every
# rename-protocol maintenance job: do NOT run concurrently with the
# stream's writes — stop the stream (or call between micro-batches on
# the same driver).

_COMPACT_MARKER = ".compact_swap"
_COMPACT_ASIDE = ".compact_old"
_COMPACT_STAGING = ".compact_staging"
# {batch_id:09d} zero-pads to AT LEAST 9 digits — the pattern must
# accept longer ids or a >1e9-batch stream's files silently never fold
_BATCH_FILE_RE = r"^batch-(?:([A-Za-z0-9_\-]+)~)?(\d{9,})-\d+\.parquet$"
_COMPACTED_FILE_RE = r"^compacted-(\d{9,})-\d+\.parquet$"


def _half_files(
    path: str,
) -> tuple[dict[str, tuple[str, int]], dict[str, int]]:
    """(batch_files, compacted_files) in a batch-file dir: batch file
    name -> (query tag, batch id); compacted name -> generation.
    The tag matters when two queries share a destination (their batch-id
    sequences advance independently): replay protection must keep each
    TAG's newest batch, not just the globally newest id."""
    import os
    import re

    batches: dict[str, tuple[str, int]] = {}
    compacted: dict[str, int] = {}
    if not os.path.isdir(path):
        return batches, compacted
    for name in os.listdir(path):
        m = re.match(_BATCH_FILE_RE, name)
        if m:
            batches[name] = (m.group(1) or "", int(m.group(2)))
            continue
        m = re.match(_COMPACTED_FILE_RE, name)
        if m:
            compacted[name] = int(m.group(1))
    return batches, compacted


def _recover_lsh_half(path: str) -> bool:
    """Finish (or roll back) a compaction swap a crash interrupted in
    one store half; returns whether anything needed recovery. Idempotent
    and cheap when clean (one isfile check) — the stream's _prior() runs
    it before every read."""
    import json
    import os
    import shutil

    marker = os.path.join(path, _COMPACT_MARKER)
    staging = os.path.join(path, _COMPACT_STAGING)
    aside = os.path.join(path, _COMPACT_ASIDE)
    if not os.path.isfile(marker):
        # pre-marker crash can only leave an orphan staging dir and/or
        # a half-written marker tmp (both hidden from Spark); clear
        # them so the next compact starts clean
        if os.path.isdir(staging):
            shutil.rmtree(staging)
        try:
            os.remove(marker + ".tmp")
        except FileNotFoundError:
            pass
        return False
    with open(marker) as fh:
        plan = json.load(fh)
    finals = list(plan["adds"].values())
    if any(os.path.exists(os.path.join(path, f)) for f in finals):
        # step 4 started: every folded file is already aside and every
        # staged part exists since step 1 -> roll forward
        for staged, final in plan["adds"].items():
            dst = os.path.join(path, final)
            src = os.path.join(staging, staged)
            if not os.path.exists(dst):
                os.replace(src, dst)
        shutil.rmtree(aside, ignore_errors=True)
    else:
        # step 4 never ran: put the folded files back verbatim
        if os.path.isdir(aside):
            for name in os.listdir(aside):
                os.replace(
                    os.path.join(aside, name), os.path.join(path, name)
                )
            os.rmdir(aside)
    shutil.rmtree(staging, ignore_errors=True)
    os.remove(marker)
    return True


def recover_lsh_store(store_path: str) -> list[str]:
    """Run crash recovery on both store halves; returns the halves that
    needed it."""
    import os

    return [
        half
        for half in ("buckets", "digests")
        if _recover_lsh_half(os.path.join(store_path, half))
    ]


def _compact_batch_dir(
    spark: SparkSession,
    path: str,
    key_col: str | None,
    upto_batch: int | None,
    drop_ids: DataFrame | None,
    target_files: int,
    join_col: str = "id",
    retired_tags: "set[str] | None" = None,
) -> dict:
    """Fold a dir of ``batch-[<query>~]<id>-<i>.parquet`` appends (plus
    any previous ``compacted-*`` generations) into ``target_files``
    consolidated files, crash-recoverably — the shared engine behind
    :func:`compact_lsh_store` (store halves) and
    :func:`compact_documents_table` (document/quarantine lanes).
    ``key_col`` clusters the output (None = plain repartition);
    ``drop_ids`` anti-joins retired ids out on ``join_col``.

    Replay protection keeps each query TAG's newest batch unfolded
    under the default ``upto_batch=None`` — which means a tag that
    STOPS writing to a shared destination (a retired or renamed
    query_name) strands its final batch file forever. ``retired_tags``
    names tags whose newest batch may fold too: pass it only for
    streams that are cleanly stopped (drained AND checkpoint-committed)
    — a retired tag that later replays would find its files folded and
    double-write (ADVICE r14)."""
    import json
    import os
    import shutil

    _recover_lsh_half(path)
    batches, compacted = _half_files(path)
    retired = retired_tags or set()
    if upto_batch is None:
        # never fold any LIVE query tag's newest batch present: a
        # crashed-before-commit attempt of it will replay and must find
        # (and replace) its own batch-* files. Tags the caller declares
        # retired (cleanly stopped) fold entirely.
        newest = {}
        for name, (tag, b) in batches.items():
            newest[tag] = max(newest.get(tag, -1), b)
        fold = {
            n
            for n, (tag, b) in batches.items()
            if b < newest[tag] or tag in retired
        } | set(compacted)
        upto = max([0, *(b for _, b in batches.values())])
    else:
        fold = {
            n for n, (_, b) in batches.items() if b < upto_batch
        } | set(compacted)
        upto = upto_batch
    fresh = len(fold) - len(compacted)  # batch files newly folded
    if not fold or (drop_ids is None and (fresh == 0 or len(fold) < 2)):
        return {"folded": 0, "files": len(batches) + len(compacted)}
    gen = max([upto, *(g + 1 for g in compacted.values())])
    df = spark.read.parquet(*(os.path.join(path, n) for n in sorted(fold)))
    if drop_ids is not None:
        if len(drop_ids.columns) != 1:
            raise ValueError(
                f"drop_ids must be a single-column frame of record "
                f"ids, got columns {drop_ids.columns}"
            )
        df = df.join(
            drop_ids.select(
                F.col(drop_ids.columns[0]).alias(join_col)
            ),
            join_col,
            "left_anti",
        )
    staging = os.path.join(path, _COMPACT_STAGING)
    shutil.rmtree(staging, ignore_errors=True)
    # consolidated files clustered by the probe's join key: incremental
    # probes of a compacted store co-locate on the bucket/digest hash
    out = (
        df.repartition(target_files, F.col(key_col))
        if key_col is not None
        else df.repartition(target_files)
    )
    out.write.mode("overwrite").parquet(staging)
    staged = sorted(
        n for n in os.listdir(staging) if n.startswith("part-")
    )
    adds = {
        s: f"compacted-{gen:09d}-{i:05d}.parquet"
        for i, s in enumerate(staged)
    }
    marker = os.path.join(path, _COMPACT_MARKER)
    tmp = marker + ".tmp"
    with open(tmp, "w") as fh:
        json.dump({"remove": sorted(fold), "adds": adds, "gen": gen}, fh)
    os.replace(tmp, marker)
    aside = os.path.join(path, _COMPACT_ASIDE)
    os.makedirs(aside, exist_ok=True)
    for name in sorted(fold):
        os.replace(os.path.join(path, name), os.path.join(aside, name))
    for s, final in adds.items():
        os.replace(os.path.join(staging, s), os.path.join(path, final))
    shutil.rmtree(aside)
    shutil.rmtree(staging, ignore_errors=True)
    os.remove(marker)
    remaining = len(batches) + len(compacted) - len(fold)
    return {"folded": len(fold), "files": remaining + len(adds)}


def compact_lsh_store(
    spark: SparkSession,
    store_path: str,
    upto_batch: int | None = None,
    drop_ids: DataFrame | None = None,
    target_files: int = 1,
    retired_tags: "set[str] | None" = None,
) -> dict:
    """Fold the near-dedup store's per-micro-batch parquet appends into
    ``target_files`` consolidated files per half, crash-recoverably (see
    the swap-protocol comment above). Returns per-half stats.

    ``upto_batch`` (exclusive) bounds which stream batches fold; the
    default folds everything strictly older than the newest batch
    present, which is the safe-under-replay choice — pass
    ``max_batch + 1`` only when the stream is cleanly stopped (drained
    AND checkpoint-committed).

    ``drop_ids`` (single-column DataFrame of record ids) is the M3-style
    retention hook: ids retired from the documents table (e.g. by
    ``apply_retention``) are anti-joined out of the folded rows, so the
    store stops near-dup-matching against documents the corpus no longer
    keeps. Ids living only in not-yet-folded batch files are dropped by
    the NEXT compaction that folds them.

    ``retired_tags``: query tags (query_name values) that are cleanly
    stopped — their newest batch folds too instead of being stranded
    by the per-tag replay protection (see :func:`_compact_batch_dir`).
    """
    import os

    out = {}
    for half, key in (("buckets", "bucket"), ("digests", "digest")):
        hpath = os.path.join(store_path, half)
        if not os.path.isdir(hpath):
            out[half] = {"folded": 0, "files": 0}
            continue
        out[half] = _compact_batch_dir(
            spark,
            hpath,
            key,
            upto_batch,
            drop_ids,
            target_files,
            retired_tags=retired_tags,
        )
    return out


def recover_documents_table(table_path: str) -> bool:
    """Finish (or roll back) a documents/quarantine-table compaction
    swap a crash interrupted; returns whether anything needed recovery.
    Same marker/aside protocol (and recovery routine) as the LSH store
    halves — run before reading a table a compactor may have died on."""
    return _recover_lsh_half(table_path)


def compact_documents_table(
    spark: SparkSession,
    table_path: str,
    upto_batch: int | None = None,
    drop_ids: DataFrame | None = None,
    id_col: str = "record_id",
    cluster_col: str | None = None,
    target_files: int = 1,
    retired_tags: "set[str] | None" = None,
) -> dict:
    """Fold the corpus sink's per-micro-batch document (or quarantine)
    parquet appends into ``target_files`` consolidated files,
    crash-recoverably — VERDICT r13 item 4: the ingest lanes accrete
    >=1 file per micro-batch (~86k files/day/stream at a 1 s trigger),
    the same hazard :func:`compact_lsh_store` closed for the store
    halves, with the same marker/aside swap protocol and the same
    replay contract (each query tag's newest batch present is never
    folded, so a crashed-before-commit batch still replaces its own
    ``batch-<query>~<id>-<i>`` files by name on replay; pass
    ``upto_batch`` past the newest only when the stream is cleanly
    stopped).

    ``drop_ids`` (single-column frame) is the M3 retention lane for the
    DOCUMENTS side: ids retired from the corpus are anti-joined out of
    the folded rows on ``id_col`` — pair it with
    ``compact_lsh_store(drop_ids=...)`` so the near-dup store retires
    the same documents. ``cluster_col`` optionally clusters the
    consolidated files (e.g. ``host`` for per-site locality); default
    is a plain repartition.

    Flat tables only (the corpus/WET sinks write unpartitioned):
    partition-dir layouts (``event_month=*``) are the province of
    ``operators/maintenance.compact``, and mixing the two would fold
    only the root files — rejected loudly instead.
    """
    import os

    if os.path.isdir(table_path):
        parts = [
            e
            for e in os.listdir(table_path)
            if "=" in e and os.path.isdir(os.path.join(table_path, e))
        ]
        if parts:
            raise ValueError(
                f"{table_path} is hive-partitioned ({parts[:3]}...): "
                "use operators/maintenance.compact for partitioned "
                "event tables; compact_documents_table folds flat "
                "streaming-sink layouts only"
            )
    return _compact_batch_dir(
        spark,
        table_path,
        cluster_col,
        upto_batch,
        drop_ids,
        target_files,
        join_col=id_col,
        retired_tags=retired_tags,
    )


def start_corpus_neardup_stream(
    files_stream: DataFrame,
    rules: DataFrame,
    table_path: str,
    quarantine_path: str,
    store_path: str,
    checkpoint_path: str,
    agent: str = "*",
    processing_time: str | None = None,
    coalesce_output: int | None = None,
    query_name: str = "corpus_neardup",
    enrich: bool = False,
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 32,
    threshold: float = 0.5,
    in_batch: bool = False,
    compact_every: int | None = None,
    classifier_weights=None,
    classifier_hasher: str | None = None,
    score_threshold: float | None = None,
    bpe_merges: list[tuple[str, str]] | None = None,
    bpe_vocab: dict[str, int] | None = None,
    bpe_pretokenize: str = "gpt2",
    recalibrate_every: int | None = None,
    calibration_fraction: float | None = None,
    calibration_window: int = 12,
    calibration_path: str | None = None,
    topic_weights: "dict[str, list[int]] | None" = None,
) -> StreamingQuery:
    """The corpus chain with CONTINUOUS near-dedup: each micro-batch
    runs WARC -> canon -> robots -> charset -> extract, then
    ``minhash_incremental`` against the hash-only store accumulated by
    every PRIOR batch; only near-dup-free survivors land in
    ``table_path``, and the survivors' own band-bucket / shingle-digest
    rows append to ``store_path`` (``buckets/`` + ``digests/`` halves,
    each row stamped with its batch id).

    Exactly-once across replays: a replayed batch re-reads the store
    filtered to ``batch < batch_id`` — its own half-written rows from a
    crashed attempt are invisible to the probe AND overwritten by the
    promote (deterministic batch-tagged names), so the batch can never
    near-dup against itself. With ``in_batch=True`` the batch is first
    deduped against ITSELF (``minhash_lsh_dedup`` pair graph ->
    ``dedup_by_pairs`` keep-lowest-record-id) before the store probe —
    the full daily-crawl contract; deterministic, so replays still
    converge. Off by default: intra-batch near-dup is often already
    handled upstream, and the in-batch pair join is the one
    batch-quadratic-ish stage of the chain.

    Document identity is the WARC record id: the store keys every
    bucket/digest row by it, and a COLLIDING id (two different documents
    sharing one record id — impossible with spec-compliant uuid4 minting
    but easy to forge with synthetic fixtures) merges both documents'
    digest sets, silently DEFLATING every Jaccard against them (the
    union inflates ``n_b``) so near-dups leak through. Real crawls mint
    unique ids; synthetic inputs must too (``encode_warc(record_id=)``).

    Scale shape: the store probe is one equi-join on band hashes
    (shuffle ∝ batch, not store) + the candidate-bounded digest verify
    — the store is parquet the probe filters by the ``batch`` column,
    never fully aggregated; store growth is hash-only (no bodies).

    ``compact_every=k`` folds the store's accumulated batch files into
    consolidated files every ``k`` micro-batches, INSIDE the
    foreachBatch body after the batch's own promote — the
    one-write-per-batch-per-half accretion (~86k files/day/half at a
    1 s trigger) stays bounded at ~k + 1 files per half without an
    external maintenance job. Safe under replay by construction:
    foreachBatch is sequential on the driver, and
    :func:`compact_lsh_store`'s default bound never folds the newest
    batch present — exactly the one that could still replay (crash
    between the compact and the checkpoint commit leaves this batch's
    files unfolded, so its replay still replaces them by name; the
    compacted older batches were already checkpoint-committed).

    Paths must be LOCAL-filesystem (like every sink built on
    ``_promote_staged``'s ``os.replace`` renames): a remote URI would
    silently defeat the first-batch store check, so it is rejected up
    front instead.

    ``recalibrate_every`` switches the static gate to ROLLING
    recalibration exactly like :func:`start_corpus_stream`, gating
    BEFORE the near-dedup probe (funnel order: score -> gate ->
    dedup): the full online funnel — classify, drift-tracking gate,
    continuous near-dedup, tokenize, compact — runs in one stream.
    """
    import os
    from urllib.parse import urlparse

    # eager arg-pairing check (ADVICE r14): fail at start, not batch 0
    _validate_enrich_args(
        classifier_weights=classifier_weights,
        classifier_hasher=classifier_hasher,
        score_threshold=score_threshold,
        bpe_merges=bpe_merges,
        bpe_vocab=bpe_vocab,
    )
    rolling = _rolling_spec(
        classifier_weights,
        score_threshold,
        recalibrate_every,
        calibration_fraction,
        calibration_window,
        calibration_path,
    )
    for label, pth in (
        ("table_path", table_path),
        ("quarantine_path", quarantine_path),
        ("store_path", store_path),
    ):
        if urlparse(pth).scheme not in ("", "file"):
            raise ValueError(
                f"{label}={pth!r}: the staged-promote sink and the "
                "store's first-batch check are local-filesystem only "
                "(os.replace / os.path.isdir) — mount the store "
                "locally or extend _promote_staged for remote FS"
            )

    from ..operators.dedup import (
        dedup_by_pairs,
        lsh_store,
        lsh_store_buckets,
        lsh_store_digests,
        minhash_incremental,
        minhash_lsh_dedup,
    )

    bpath = os.path.join(store_path, "buckets")
    dpath = os.path.join(store_path, "digests")

    def _prior(spark, path: str, schema_df: DataFrame, batch_id: int):
        # the shared lane-read discipline (_lane_before: crash
        # recovery, hidden-entry-only empty check, batch < batch_id);
        # the store probe additionally drops the stamp column (a no-op
        # on the empty-lane template, which never carried it)
        return _lane_before(spark, path, schema_df, batch_id).drop(
            "batch"
        )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        caches: list[DataFrame] = []
        try:
            _process_inner(spark, batch_df, batch_id, caches)
        finally:
            # release every cache the batch registered no matter where
            # it failed — a retried batch re-registers a fresh set, and
            # without this the CacheManager accrues dead entries
            for frame in caches:
                frame.unpersist()

    def _process_inner(spark, batch_df, batch_id, caches):
        docs, quar = corpus_documents(
            batch_df,
            rules,
            agent=agent,
            enrich=enrich,
            classifier_weights=classifier_weights,
            classifier_hasher=classifier_hasher,
            score_threshold=None if rolling else score_threshold,
            bpe_merges=bpe_merges,
            bpe_vocab=bpe_vocab,
            bpe_pretokenize=bpe_pretokenize,
            topic_weights=topic_weights,
        )
        rolling_extra: list = []
        if rolling:
            from pyspark import StorageLevel as _SL

            # gate BEFORE near-dedup (funnel order: score -> gate ->
            # dedup); the scored frame feeds gate + histogram, so
            # persist it for the batch
            docs = docs.persist(_SL.MEMORY_AND_DISK)
            caches.append(docs)
            docs, rolling_extra = _rolling_gate(
                spark, docs, batch_id, rolling
            )
        kw = dict(n=n, num_hashes=num_hashes, bands=bands)
        if in_batch:
            pairs = minhash_lsh_dedup(
                docs,
                id_col="record_id",
                text_col="text",
                threshold=threshold,
                caches=caches,
                **kw,
            )
            docs = dedup_by_pairs(docs, pairs, id_col="record_id")
        empty = docs.limit(0)
        prior_b = _prior(
            spark,
            bpath,
            lsh_store_buckets(empty, "record_id", "text", **kw),
            batch_id,
        )
        prior_d = _prior(
            spark,
            dpath,
            lsh_store_digests(empty, "record_id", "text", n=n),
            batch_id,
        )
        surv = minhash_incremental(
            docs,
            prior_b,
            prior_d,
            id_col="record_id",
            text_col="text",
            threshold=threshold,
            caches=caches,
            **kw,
        )
        from pyspark import StorageLevel

        surv = surv.persist(StorageLevel.MEMORY_AND_DISK)
        caches.append(surv)
        # ONE shared shingle pass for both store halves (lsh_store)
        new_b, new_d = lsh_store(
            surv, "record_id", "text", caches=caches, **kw
        )
        tag = F.lit(batch_id).cast("long").alias("batch")
        new_b = new_b.select("*", tag)
        new_d = new_d.select("*", tag)
        out_docs = surv
        if coalesce_output:
            out_docs = surv.coalesce(coalesce_output)
            quar = quar.coalesce(1)
            new_b = new_b.coalesce(1)
            new_d = new_d.coalesce(1)
        _stage_outputs(
            (
                (out_docs, table_path),
                (quar, quarantine_path),
                (new_b, bpath),
                (new_d, dpath),
                *rolling_extra,
            ),
            batch_id,
            query_name,
        )
        if compact_every and batch_id > 0 and batch_id % compact_every == 0:
            compact_lsh_store(spark, store_path)
            # the document/quarantine lanes accrete exactly the same
            # way (one file per micro-batch) — fold them on the same
            # cadence, same never-the-newest-batch replay contract
            compact_documents_table(spark, table_path)
            compact_documents_table(spark, quarantine_path)
            if rolling:
                _compact_rolling_lanes(spark, rolling)

    return _start_foreach(
        files_stream, process, checkpoint_path, processing_time, query_name
    )
