"""Pipeline compiler/runner: PipelineSpec → DataFrame stages → lake.

The Spark-native re-trace of the reference's DAG lifecycle (SURVEY.md §3):
ingest → data-quality → branch → publish/quarantine/alert, in ONE driver
program. The reference's XCom channel, branch operator, and metadata DB
(ref: dags/dag_factory.py:35-40,74-95) become plain return values and an
``if`` — and, unlike the reference, the FAILED branch is actually reachable
(the reference raises before pushing the FAILED status,
ref: operators/data_quality_operator.py:120-129 vs dag_factory.py:38).

Quarantine semantics: on DQ failure the batch is written to
``<path>__quarantine`` instead of the publish path, so bad data is kept for
forensics but never visible to consumers — at 100 TB "re-ingest later" is a
real cost, "published bad data" is worse.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession

from ..operators.quality import DQReport, run_checks
from .spec import PipelineSpec

AlertFn = Callable[[str, DQReport], None]


@dataclass
class PipelineResult:
    spec: PipelineSpec
    report: DQReport
    published_path: str | None
    quarantined_path: str | None
    n_rows: int | None = None
    #: rows-mode only: where the per-row offenders (with their _violations
    #: tag) were parked. Distinct from ``quarantined_path`` so a run where
    #: the table gate ALSO fails reports both locations instead of the
    #: batch path silently shadowing the row path.
    quarantined_rows_path: str | None = None
    #: run observability: wall seconds per stage. ``checks_s`` covers the
    #: fused DQ scan (the first action), ``write_s`` the sink job;
    #: ``plan_s`` is driver-side plan construction (source+transforms are
    #: lazy). The reference scattered this across Airflow task logs and
    #: the XCom metadata DB; here it's a plain field on the result.
    metrics: dict[str, float] | None = None

    @property
    def passed(self) -> bool:
        return self.report.passed


def _read_source(spark: SparkSession, spec: PipelineSpec, ds: str | None) -> DataFrame:
    src = spec.source
    opts = dict(src.options)
    # template substitution: the reference's Jinja {{ ds }} fields
    # (ref: operators/api_to_s3.py:29, yaml:16,25) become str.format(ds=…).
    if ds is not None:
        opts = {
            k: (v.replace("{{ ds }}", ds).replace("{ds}", ds) if isinstance(v, str) else v)
            for k, v in opts.items()
        }
    if src.type == "file":
        from ..sources.files import (
            read_avro,
            read_csv,
            read_json,
            read_orc,
            read_parquet,
        )

        fmt = opts.get("format", "parquet")
        path = opts["path"]
        if fmt == "csv":
            return read_csv(spark, path, schema=opts.get("schema"))
        if fmt == "json":
            return read_json(spark, path, schema=opts.get("schema"))
        if fmt == "orc":
            return read_orc(spark, path, schema=opts.get("schema"))
        if fmt == "avro":
            # spark-avro where deployed, pure OCF fallback in-container
            return read_avro(spark, path)
        return read_parquet(spark, path)
    if src.type == "http_api":
        from ..sources.http import fetch_json_df

        return fetch_json_df(
            spark, opts["endpoint"], params=opts.get("params"), schema=opts.get("schema")
        )
    if src.type == "synthetic_events":
        from ..sources.synthetic import synthetic_user_events

        return synthetic_user_events(
            spark, n=int(opts.get("n", 5000)), seed=int(opts.get("seed", 42))
        )
    if src.type == "table":
        from ..sources.files import read_parquet

        return read_parquet(spark, opts["path"])
    if src.type == "kafka":
        raise NotImplementedError(
            "kafka batch source requires spark-sql-kafka jars; see sources/kafka.py"
        )
    if src.type == "snapshot_cdf":
        # incremental pipeline over a snapshot table (round 11): the
        # batch change feed for versions (after_version, to_version] —
        # (row..., change_type, version). A scheduled run passes the
        # version it last consumed as after_version (template fields
        # substitute like every other option). The batch feed reads
        # through the same per-file planner as the streaming twin,
        # spark.readStream.format("snapshot_cdf") (sources/cdf.py), so
        # both emit the same rows under the same columns.
        # key_cols (round 12) switches to KEYED classification:
        # same-version delete+insert pairs become
        # update_preimage/update_postimage rows, unchanged restated
        # rows drop (Delta CDF semantics; sources/cdf.py
        # reconcile_updates).
        from ..sources.cdf import changes_between

        key_cols = opts.get("key_cols")
        if isinstance(key_cols, str):
            key_cols = [c.strip() for c in key_cols.split(",") if c.strip()]
        return changes_between(
            spark,
            opts["path"],
            after_version=int(opts.get("after_version", 0)),
            to_version=(
                int(opts["to_version"]) if "to_version" in opts else None
            ),
            key_cols=key_cols,
        )
    raise ValueError(f"unsupported source type: {src.type}")


def apply_transformations(df: DataFrame, spec: PipelineSpec) -> DataFrame:
    """Apply the spec's declarative transformation list.

    Every op compiles to a DataFrame expression (``F.expr`` for predicates
    and column expressions) so Catalyst sees ONE logical plan across
    source → transform → checks → sink: filters written in YAML still push
    down into the parquet/JSON scan, column selections still prune.
    """
    from pyspark.sql import functions as F

    for t in spec.transformations:
        op = t.get("op")
        if op == "filter":
            df = df.filter(F.expr(t["predicate"]))
        elif op == "select":
            df = df.select(*t["columns"])
        elif op == "with_column":
            df = df.withColumn(t["name"], F.expr(t["expr"]))
        elif op == "drop":
            df = df.drop(*t["columns"])
        elif op == "rename":
            df = df.withColumnRenamed(t["from"], t["to"])
        elif op == "deduplicate":
            df = df.dropDuplicates(t.get("columns"))
        elif op == "repartition":
            cols = t.get("columns", [])
            n = t.get("n")
            if cols and n:
                df = df.repartition(int(n), *cols)
            elif cols:
                df = df.repartition(*cols)
            elif n:
                df = df.repartition(int(n))
        elif op == "join":
            # enrichment join against another lake path — the reference's
            # implied user-profile join (SURVEY §2.3) as one YAML stanza
            spark = df.sparkSession
            fmt = t.get("format", "parquet")
            other = spark.read.format(fmt).load(t["path"])
            if t.get("select"):
                other = other.select(*t["select"])
            if t.get("broadcast", False):  # small dims: say so in the spec
                other = F.broadcast(other)
            # `on`: list of shared column names, or a condition expression
            # string (for differently-named keys, e.g. "o_custkey = c_custkey")
            on = t["on"]
            if isinstance(on, str):
                on = F.expr(on)
            df = df.join(other, on=on, how=t.get("how", "inner"))
        elif op == "aggregate":
            aggs = [
                F.expr(expr).alias(alias)
                for alias, expr in t.get("aggs", {}).items()
            ]
            df = df.groupBy(*t.get("group_by", [])).agg(*aggs)
        elif op == "mask":
            # pseudonymization: salted SHA-256 over identifier columns —
            # stable within one salt (joins still line up across tables
            # masked with the same salt), unlinkable across salts. NULLs
            # stay NULL. Complements redact_pii (functions/text.py),
            # which scrubs free text; this masks keyed identifiers.
            salt = str(t.get("salt", ""))
            for c in t["columns"]:
                df = df.withColumn(
                    c,
                    F.when(
                        F.col(c).isNotNull(),
                        F.sha2(
                            F.concat(
                                F.lit(salt), F.col(c).cast("string")
                            ),
                            256,
                        ),
                    ),
                )
        elif op == "drop_near_duplicates":
            # the training-corpus dedup step as one YAML stanza: MinHash-
            # LSH candidates, exact verification, transitive clusters,
            # lowest-id survivor per cluster (operators/dedup.py).
            from ..operators.dedup import drop_near_duplicates

            df = drop_near_duplicates(
                df,
                text_col=t.get("text_col", "text"),
                id_col=t.get("id_col", "doc_id"),
                k=int(t.get("k", 3)),
                threshold=float(t.get("threshold", 0.8)),
            )
        elif op == "langid":
            # heuristic language-ID column (functions/text.py): pure
            # expressions, no UDF — the corpus-pipeline language gate
            from ..functions.text import langid

            df = df.withColumn(
                t.get("out_col", "lang"),
                langid(F.col(t.get("text_col", "text"))),
            )
        elif op == "quality_score":
            # document-quality signal columns (token count, mean token
            # length, stopword ratio, composite score) — filter on them
            # with a plain `filter` stanza downstream
            from ..functions.text import quality_score_cols

            for name, col in quality_score_cols(
                F.col(t.get("text_col", "text"))
            ).items():
                df = df.withColumn(name, col)
            if t.get("compression"):
                # Gopher-lineage repetitiveness signal (round 6c):
                # zlib ratio, Arrow-batched — gate on it with a filter
                # stanza (low = boilerplate/spam, ~1 = noise)
                from ..functions.text import compression_ratio

                df = df.withColumn(
                    "compression_ratio",
                    compression_ratio(F.col(t.get("text_col", "text"))),
                )
        elif op == "chunk":
            # overlapping token-window chunks; NOTE: projects to
            # (id, chunk_id, chunk_text, n_tok) — a terminal reshape that
            # turns documents into training units (operators/chunking.py)
            from ..operators.chunking import chunk_documents

            df = chunk_documents(
                df,
                text_col=t.get("text_col", "text"),
                id_col=t.get("id_col", "doc_id"),
                chunk_tokens=int(t.get("chunk_tokens", 64)),
                overlap=int(t.get("overlap", 16)),
            )
        elif op == "decode_media":
            # multimodal payloads from YAML: mode "metadata" attaches the
            # cheap no-decode columns (n_bytes / payload_sha / format —
            # what dedup and filtering run on BEFORE any decode); mode
            # "features" runs the real Arrow-batched decode
            # (operators/multimodal.py: wav/bmp/ppm/png/gif/jpeg/flac
            # decode + mp3/mp4/ogg container metadata) and replaces the
            # frame with (id, typed feature columns) — a terminal
            # reshape like `chunk`. Corrupt payloads degrade to sniffed
            # rows, never failures (decode_payload's contract).
            from ..operators.multimodal import (
                attach_binary_metadata,
                decode_features,
            )

            mode = t.get("mode", "metadata")
            payload_col = t.get("payload_col", "payload")
            if mode == "metadata":
                df = attach_binary_metadata(df, payload_col=payload_col)
            elif mode == "features":
                df = decode_features(
                    df,
                    payload_col=payload_col,
                    id_col=t.get("id_col", "doc_id"),
                )
            # unknown modes fall through untouched (tolerant dispatch,
            # flagged at parse time like unknown ops)
        elif op == "extract_text":
            # markup/document → plain text ahead of the text ops (round
            # 5): format "html_main" runs the Readability-style block
            # extractor, "html_all" the pure-JVM regexp tag strip,
            # "pdf" the ISO 32000 content-stream extractor. All are
            # scan-stage projections (no exchange); malformed input
            # degrades to best-effort text, never a failure.
            fmt = t.get("format", "html_main")
            in_col = t.get("input_col", "raw")
            out_col = t.get("output_col", "text")
            if fmt == "html_all":
                from ..operators.html import strip_html

                df = df.withColumn(out_col, strip_html(in_col))
            elif fmt == "html_main":
                from ..operators.html import html_extract

                df = html_extract(df, html_col=in_col, out_col=out_col)
            elif fmt == "pdf":
                from pyspark.sql.functions import pandas_udf

                from ..operators.pdf import extract_pdf_text

                @pandas_udf("string")
                def _pdf_text(s):
                    return s.map(
                        lambda b: extract_pdf_text(
                            bytes(b) if b is not None else b""
                        )
                    )

                df = df.withColumn(out_col, _pdf_text(F.col(in_col)))
            elif fmt in ("docx", "eml", "latex", "srt", "markdown", "epub",
                         "feed", "sniff", "auto"):
                # round 6c: office, mail, science, subtitle arrival
                # formats — all Arrow-batched per-row extraction
                # (operators/docx.py, mail.py, latex.py, subtitles.py);
                # malformed input degrades to empty text, never a
                # failure.
                from pyspark.sql.functions import pandas_udf

                if fmt == "docx":
                    from ..operators.docx import extract_docx_text

                    fn = lambda b: extract_docx_text(  # noqa: E731
                        bytes(b) if b is not None else b""
                    )["text"]
                elif fmt == "eml":
                    from ..operators.mail import parse_eml

                    fn = lambda b: parse_eml(  # noqa: E731
                        bytes(b) if b is not None else b""
                    )["body"]
                elif fmt == "latex":
                    from ..operators.latex import extract_latex_text

                    fn = lambda s: extract_latex_text(s or "")  # noqa: E731
                elif fmt == "markdown":
                    from ..operators.markdown import extract_markdown_text

                    fn = lambda s: extract_markdown_text(s or "")  # noqa: E731
                elif fmt == "epub":
                    from ..operators.epub import extract_epub

                    fn = lambda b: extract_epub(  # noqa: E731
                        bytes(b) if b is not None else b""
                    )["text"]
                elif fmt == "feed":
                    from ..operators.feeds import parse_feed

                    fn = lambda s: " ".join(  # noqa: E731
                        i["text"] for i in parse_feed(s or "")["items"]
                    )
                elif fmt == "sniff":
                    # raw bytes of unknown charset -> UTF-8 text
                    # (operators/encoding.py ladder; total, never raises)
                    from ..operators.encoding import sniff_decode

                    fn = lambda b: sniff_decode(  # noqa: E731
                        bytes(b) if b is not None else b""
                    )["text"]
                elif fmt == "auto":
                    # the whole bytes front door: magic-sniffed
                    # decompress (gzip/bz2/xz) then charset sniff
                    from ..operators.encoding import (
                        sniff_decode,
                        sniff_decompress,
                    )

                    fn = lambda b: sniff_decode(  # noqa: E731
                        sniff_decompress(
                            bytes(b) if b is not None else b""
                        )["data"]
                    )["text"]
                else:  # srt
                    from ..operators.subtitles import parse_srt

                    fn = lambda s: " ".join(  # noqa: E731
                        c["text"] for c in parse_srt(s or "")
                    )

                @pandas_udf("string")
                def _extract(s):
                    return s.map(fn)

                df = df.withColumn(out_col, _extract(F.col(in_col)))
            # unknown formats fall through untouched (tolerant dispatch)
        elif op == "extract_archive":
            # packaged-corpus unpacking (round 6): the payload column
            # holds a tar/zip archive per row; format "tar_members" /
            # "zip_members" explodes member inventories, "wds_samples"
            # regroups a tar shard into WebDataset samples (the
            # multimodal-training arrival convention). All are
            # Arrow-batched single-scan reshapes (operators/archive.py);
            # malformed archives yield the members that parsed, never a
            # failure.
            from ..operators.archive import (
                tar_member_rows,
                wds_sample_rows,
                zip_member_rows,
            )

            fmt = t.get("format", "wds_samples")
            payload_col = t.get("payload_col", "payload")
            id_col = t.get("id_col", "doc_id")
            if fmt == "tar_members":
                df = tar_member_rows(df, col=payload_col, id_col=id_col)
            elif fmt == "zip_members":
                df = zip_member_rows(df, col=payload_col, id_col=id_col)
            elif fmt == "tfrecord_examples":
                # round 6c: the TensorFlow shard container
                from ..operators.tfrecord import tfrecord_example_rows

                df = tfrecord_example_rows(df, col=payload_col, id_col=id_col)
            elif fmt == "wds_samples":
                df = wds_sample_rows(
                    df,
                    col=payload_col,
                    id_col=id_col,
                    payload_ext=t.get("payload_ext"),
                )
            # unknown formats fall through untouched (tolerant dispatch)
        elif op == "normalize_unicode":
            # UAX #15 canonicalization ahead of any hashed operator
            # (round 6c, operators/unicodenorm.py): form NFC (default) /
            # NFKC / NFD / NFKD; in-place on the text column.
            from pyspark.sql.functions import pandas_udf

            from ..operators.unicodenorm import normalize

            form = str(t.get("form", "NFC")).upper()
            col = t.get("text_col", "text")

            @pandas_udf("string")
            def _norm(s):
                return s.map(lambda x: normalize(x or "", form))

            df = df.withColumn(col, _norm(F.col(col)))
        elif op == "classify":
            # learned quality filter (round 6c, operators/classify.py):
            # train Naive Bayes on the rows where `label_col` is set,
            # score EVERY row, attach mult_odds / bern_odds / predicted.
            # Filter on them with a plain `filter` stanza downstream —
            # the same compose-with-filter contract as quality_score.
            from ..operators.classify import (
                nb_score_bernoulli,
                nb_score_multinomial,
                nb_train,
            )

            id_col = t.get("id_col", "doc_id")
            text_col = t.get("text_col", "text")
            label_col = t.get("label_col", "label")
            train = df.filter(F.col(label_col).isNotNull()).select(
                F.col(id_col).alias("doc_id"),
                F.col(text_col).alias("text"),
                F.col(label_col).cast("boolean").alias("label"),
            )
            # fail LOUDLY on an empty training slice: with no labeled
            # rows the model table is empty and the scoring joins would
            # silently empty the whole pipeline (review r6c)
            if train.limit(1).count() == 0:
                raise ValueError(
                    f"classify: no rows have a non-null '{label_col}' — "
                    "nothing to train on"
                )
            model, meta = nb_train(train)
            docs = df.select(
                F.col(id_col).alias("doc_id"),
                F.col(text_col).alias("text"),
            ).filter(F.col("text").isNotNull())
            m = nb_score_multinomial(docs, model, meta).select(
                F.col("doc_id").alias(id_col), "mult_odds"
            )
            b = nb_score_bernoulli(docs, model, meta).select(
                F.col("doc_id").alias(id_col), "bern_odds"
            )
            # LEFT joins: a NULL-text row produces no token rows, so an
            # inner join would silently delete it — instead it passes
            # through with NULL odds and predicted=false, filterable
            # downstream like any other signal column
            df = (
                df.join(m, id_col, "left")
                .join(b, id_col, "left")
                .withColumn(
                    "predicted",
                    F.coalesce(F.col("bern_odds") > 1.0, F.lit(False)),
                )
            )
        elif op == "scrub_duplicates":
            # duplicate-substring REMOVAL (round 6): tokens covered by a
            # cross-corpus duplicated k-gram are cut and the text column
            # replaced by the scrubbed rejoin (case-folded tokens — the
            # dedup tokenization; operators/dedup.py
            # scrub_duplicate_spans). Stats columns ride along for
            # downstream filter stanzas.
            from ..operators.dedup import scrub_duplicate_spans

            id_col = t.get("id_col", "doc_id")
            text_col = t.get("text_col", "text")
            s = scrub_duplicate_spans(
                df,
                text_col=text_col,
                id_col=id_col,
                k=int(t.get("k", 5)),
                max_gram_occ=int(t.get("max_gram_occ", 16)),
                return_text=True,
            ).select(
                F.col("doc_id").alias(id_col),
                F.col("scrubbed_text").alias(text_col),
                "n_dup_tokens",
                "n_kept_tokens",
            )
            df = df.drop(text_col).join(s, id_col)
        elif op == "tokenize":
            # subword tokenization as config (round 6): train the
            # chosen family ON the pipeline's own corpus (bpe /
            # wordpiece / unigram — unigram takes optional em_rounds
            # of hard EM) and attach the per-doc subword piece array.
            # Scale shape: the corpus collapses once to word TYPES,
            # types are segmented (expression fold or Arrow map-side),
            # and pieces come back via a distributed join + per-doc
            # ordered flatten — no word->pieces dict ever collects, so
            # unbounded type tables stay distributed.
            from ..functions.text import tokens as _tokens
            from ..operators.bpe import (
                DELIM,
                _merge_fold,
                bpe_train,
                unigram_hard_em_counts,
                unigram_segment_types,
                unigram_vocab,
                wordpiece_segment_types,
                wordpiece_train,
            )

            family = t.get("family", "bpe")
            text_col = t.get("text_col", "text")
            id_col = t.get("id_col", "doc_id")
            out_col = t.get("output_col", "pieces")
            n_merges = int(t.get("n_merges", 8))
            words = (
                df.select(F.explode(_tokens(F.col(text_col))).alias("w"))
                .groupBy("w")
                .agg(F.count(F.lit(1)).alias("c"))
                .filter(~F.col("w").contains(DELIM))
            )
            types = None
            if family == "bpe":
                rules = bpe_train(words, n_merges)
                sym = F.split(F.col("w"), "(?!$)")
                for _r, x, y, m in rules:
                    sym = _merge_fold(x, y, m)(sym)
                types = words.select(
                    "w", F.array_join(sym, "+").alias("segmented")
                )
            elif family == "wordpiece":
                rules = wordpiece_train(words, n_merges)
                types = wordpiece_segment_types(words, rules).select(
                    F.col("word").alias("w"), "segmented"
                )
            elif family == "unigram":
                vocab = [
                    (r.tok, int(r.cnt))
                    for r in unigram_vocab(words, 4, 4096).collect()
                ]
                tot = sum(c for _, c in vocab)
                for _ in range(int(t.get("em_rounds", 0))):
                    vocab = [
                        (r.tok, int(r.cnt))
                        for r in unigram_hard_em_counts(
                            words, vocab, tot
                        ).collect()
                    ]
                    tot = sum(c for _, c in vocab)
                types = unigram_segment_types(words, vocab, tot).select(
                    F.col("word").alias("w"), "segmented"
                )
            # unknown families fall through untouched (tolerant dispatch)
            if types is not None:
                exploded = df.select(
                    id_col,
                    F.posexplode(_tokens(F.col(text_col))).alias("pos", "w"),
                )
                per_doc = (
                    exploded.join(types, "w", "left")
                    .select(
                        id_col,
                        F.struct(
                            F.col("pos"),
                            F.coalesce(
                                F.split(F.col("segmented"), r"\+"),
                                F.array(F.col("w")),
                            ).alias("p"),
                        ).alias("s"),
                    )
                    .groupBy(id_col)
                    .agg(
                        F.flatten(
                            F.transform(
                                F.array_sort(F.collect_list("s")),
                                lambda s: s["p"],
                            )
                        ).alias(out_col)
                    )
                )
                df = df.join(per_doc, id_col, "left").withColumn(
                    f"n_{out_col}",
                    F.coalesce(F.size(out_col), F.lit(0)).cast("long"),
                )
        elif op == "lm_fluency":
            # corpus-trained bigram-LM fluency columns (round 6,
            # operators/lm.py): integer-ppm conditional-probability
            # scores to gate on with a downstream `filter` stanza —
            # the CCNet-style perplexity filter as one YAML line.
            from ..operators.lm import lm_fluency

            id_col = t.get("id_col", "doc_id")
            scores = lm_fluency(
                df, text_col=t.get("text_col", "text"), id_col=id_col
            )
            df = df.join(scores, id_col, "left")
        elif op == "semantic_dedup":
            # cluster-pruned embedding dedup (round 6, the SemDeDup
            # recipe; operators/clustering.py): drops rows with a
            # lower-id same-cluster neighbor above the cosine
            # threshold. keep_column retains the flag instead of
            # filtering (for audit pipelines).
            from ..operators.clustering import semantic_dedup

            id_col = t.get("id_col", "vec_id")
            s = semantic_dedup(
                df,
                k=int(t.get("k", 8)),
                n_iters=int(t.get("n_iters", 3)),
                tau_num=int(t.get("tau_num", 2)),
                tau_den=int(t.get("tau_den", 5)),
                vec_col=t.get("vec_col", "embedding"),
                id_col=id_col,
            ).select(F.col("vec_id").alias(id_col), "kept")
            df = df.join(s, id_col, "left")
            if bool(t.get("drop", True)):
                df = df.filter(F.col("kept")).drop("kept")
        elif op == "temporal_join":
            # point-in-time dimension enrichment (round 6): attach the
            # dimension attribute valid AT each row's own event time —
            # the leakage-free feature join. The dimension parquet is an
            # SCD2 change log (key, valid_from, attributes); intervals
            # close with one lead() and the lookup is a single-match
            # range join (streaming/enrich.py — the same helpers serve
            # batch frames).
            from ..streaming.enrich import (
                close_intervals,
                temporal_enrich_stream,
            )

            spark_ = df.sparkSession
            dim = spark_.read.parquet(t["dim_path"])
            closed = close_intervals(
                dim,
                on=t.get("on", "user_id"),
                t_col=t.get("valid_from_col", "valid_from"),
                tiebreak_col=t.get("tiebreak_col"),
            )
            df = temporal_enrich_stream(
                df,
                closed,
                on=t.get("on", "user_id"),
                ts_col=t.get("ts_col", "ts"),
                t_col=t.get("valid_from_col", "valid_from"),
            ).drop("valid_to_excl")
        elif op == "sessionize":
            # the reference's implied purpose (README.md:1 — user session
            # analysis) as one YAML stanza: adds a per-user session
            # sequence column, composable with aggregate/filter stages.
            from ..operators.sessionize import sessionize

            df = sessionize(
                df,
                user_col=t.get("user_col", "user_id"),
                ts_col=t.get("ts_col", "ts"),
                gap_minutes=float(t.get("gap_minutes", 30)),
                tiebreak_cols=tuple(t.get("tiebreak_cols", ("event_id",))),
                out_col=t.get("out_col", "session_seq"),
            )
        # unknown ops were flagged at parse time (spec.warnings); skipping
        # here mirrors the reference's tolerant dispatch (ref:
        # operators/data_quality_operator.py:116-117).
    return df


def _write_sink(
    df: DataFrame, spec: PipelineSpec, path: str, ds: str | None = None
) -> None:
    dst = spec.destination
    if dst.type == "none":
        return
    if dst.type == "snapshot":
        # Versioned table with atomic publish + time travel — a re-run of
        # the same ds becomes a new inspectable version instead of an
        # in-place overwrite (sources/snapshots.py).
        from ..sources.snapshots import write_snapshot

        write_snapshot(
            df,
            path,
            mode=dst.options.get("snapshot_mode", "append"),
            # data-file format of the versioned table (round 10):
            # parquet (default) or orc — maintenance hooks dispatch on
            # the manifest, so compaction/vacuum work on either
            format=dst.options.get("format", "parquet"),
        )
        return
    if dst.type == "snapshot_merge":
        # Keyed upsert into a versioned table — the APPLY side of a
        # self-service CDC pipeline (round 12). YAML shape:
        #   destination:
        #     type: snapshot_merge
        #     path: /lake/customers
        #     key_cols: id            # or [id, region]
        #     delete_col: is_deleted  # optional tombstone column
        #     apply_feed: true        # input is a change feed: fold it
        #     strategy: delta         # delta (MoR, default) | cow
        # With apply_feed the run's rows are a change-feed frame (e.g.
        # a snapshot_cdf source with key_cols): they fold to one action
        # per key first (sources/cdf.py feed_actions), so
        # source: snapshot_cdf + destination: snapshot_merge IS keyed
        # replication in pure YAML. strategy=delta applies as one
        # merge-on-read commit (vector + appended dir, per-run cost
        # proportional to the input); cow is the full-rewrite
        # merge_into_snapshot. The first run seeds the table.
        from ..sources.snapshots import (
            merge_into_snapshot,
            merge_into_snapshot_delta,
            snapshot_versions,
            write_snapshot,
        )

        key_cols = dst.options.get("key_cols")
        if isinstance(key_cols, str):
            key_cols = [c.strip() for c in key_cols.split(",") if c.strip()]
        if not key_cols:
            raise ValueError(
                "snapshot_merge destination requires key_cols"
            )
        delete_col = dst.options.get("delete_col")
        out = df
        if dst.options.get("apply_feed"):
            from ..sources.cdf import TOMBSTONE_COL, feed_actions

            out = feed_actions(out, key_cols)
            delete_col = TOMBSTONE_COL
        strategy = dst.options.get("strategy", "delta")
        if strategy not in ("delta", "cow"):
            raise ValueError(
                f"snapshot_merge strategy must be delta|cow, got {strategy!r}"
            )
        if not snapshot_versions(path):
            from pyspark.sql import functions as F

            seed = out
            if delete_col is not None:
                seed = seed.filter(
                    ~F.coalesce(
                        F.col(delete_col).cast("boolean"), F.lit(False)
                    )
                ).drop(delete_col)
            write_snapshot(seed, path, mode="overwrite")
        elif strategy == "cow":
            merge_into_snapshot(
                df.sparkSession, path, out, key_cols, delete_col=delete_col
            )
        else:
            merge_into_snapshot_delta(
                df.sparkSession, path, out, key_cols, delete_col=delete_col
            )
        return
    if dst.type == "rollup":
        # Continuous aggregate: fold this run's rows into a fine-grain
        # partial-aggregate snapshot (operators/rollup.py). YAML shape:
        #   destination:
        #     type: rollup
        #     path: /lake/events_hourly
        #     grains: {hour: "date_trunc('hour', ts)", event_type: event_type}
        #     aggs:   {n_events: [count], value_sum: [sum, value]}
        from pyspark.sql import functions as F

        from ..operators.rollup import upsert_rollup

        grains = {
            name: F.expr(expr)
            for name, expr in (dst.options.get("grains") or {}).items()
        }
        aggs = {
            out: (spec[0], spec[1] if len(spec) > 1 else None)
            for out, spec in (dst.options.get("aggs") or {}).items()
        }
        # run_key=ds makes backfills/re-runs idempotent: re-ingesting a
        # already-folded partition is a no-op, matching the dynamic-
        # partition-overwrite contract of the parquet sink
        upsert_rollup(
            df.sparkSession, path, df, grains, aggs, run_key=ds
        )
        return
    if dst.type == "shards":
        # Training-shard export (round 6, operators/sharding.py):
        # deterministic LCG-shuffled layout as path/shard=N/ parquet.
        # YAML shape:
        #   destination:
        #     type: shards
        #     path: /lake/train_shards/{ds}
        #     n_shards: 64
        #     id_col: doc_id
        from ..operators.sharding import write_training_shards

        write_training_shards(
            df,
            path,
            id_col=dst.options.get("id_col", "doc_id"),
            n_shards=int(dst.options.get("n_shards", 16)),
        )
        return
    writer = df.write.mode("overwrite")
    if dst.partition_by:
        # dynamic overwrite: a re-run of one ds replaces exactly that
        # partition — without this a backfill's later day would clobber
        # every earlier day's output (static overwrite truncates the
        # whole table). Caught by the backfill idempotency test.
        df.sparkSession.conf.set(
            "spark.sql.sources.partitionOverwriteMode", "dynamic"
        )
        writer = writer.partitionBy(*dst.partition_by)
    if dst.type == "json":
        writer.json(path)
    else:
        writer.parquet(path)


def compile_pipeline(
    spec: PipelineSpec,
    transform: Callable[[DataFrame], DataFrame] | None = None,
    alert: AlertFn | None = None,
) -> Callable[[SparkSession, str | None], PipelineResult]:
    """Spec → runnable pipeline function (the Spark-native analog of the
    reference's create_dag, ref: dag_factory.py:22-97)."""

    def run(spark: SparkSession, ds: str | None = None) -> PipelineResult:
        import time

        t0 = time.perf_counter()
        df = _read_source(spark, spec, ds)
        if ds is not None and "ds" not in df.columns and spec.destination.partition_by:
            from pyspark.sql import functions as F

            df = df.withColumn("ds", F.lit(ds))
        df = apply_transformations(df, spec)
        if transform is not None:
            df = transform(df)
        t1 = time.perf_counter()
        base = spec.destination.path
        published = quarantined = quarantined_rows = None
        n_bad_rows = 0
        persisted = None
        if spec.quality_mode == "rows":
            # Per-row checks divert only offending rows (tagged with the
            # checks they broke); table-level checks then gate the clean
            # remainder with the usual batch branch.
            from ..operators.quality import ROW_CHECKS, split_by_checks

            row_checks = [
                c
                for c in spec.checks
                if c.get("check_type") in ROW_CHECKS
            ]
            table_checks = [
                c
                for c in spec.checks
                if c.get("check_type") not in ROW_CHECKS
            ]
            # Persist the source+transform result once: the split's two
            # filters, the offender count/write, the fused table checks,
            # and the publish write would otherwise each recompute the
            # full lineage (up to 4 scans of the source).
            persisted = df.persist()
            good, bad = split_by_checks(persisted, row_checks)
            n_bad_rows = bad.count()
            if base and n_bad_rows:
                quarantined_rows = f"{base}__quarantine"
                _write_sink(bad, spec, quarantined_rows, ds)
            df = good
            report = run_checks(df, table_checks, count_rows=True)
        else:
            report = run_checks(df, list(spec.checks), count_rows=True)
        t2 = time.perf_counter()
        if base:
            if report.passed:
                published = base
                _write_sink(df, spec, published, ds)
            elif spec.quality_mode == "rows":
                # the clean remainder failed a TABLE-level gate: park it
                # separately from the row offenders (different schema —
                # offenders carry _violations) and publish nothing.
                quarantined = f"{base}__quarantine_batch"
                _write_sink(df, spec, quarantined, ds)
            else:
                quarantined = f"{base}__quarantine"
                _write_sink(df, spec, quarantined, ds)
        if persisted is not None:
            persisted.unpersist()
        # Post-publish lake maintenance (round 8): the self-service
        # spec can ask for small-file compaction of the table it just
        # published — the audit→compact loop (operators/layout.py
        # compact_flagged) as a YAML switch:
        #   destination:
        #     maintenance: {compact_small_files: true,
        #                   small_file_mb: 32, target_mb: 128}
        # Runs only after a PASSED publish. Parquet sinks use the
        # local rename-swap loop; SNAPSHOT sinks route to the
        # object-store-safe single-pointer commit
        # (sources/snapshots.py compact_small_dirs — round 9), so the
        # audit→compaction loop is safe end to end on any filesystem
        # a snapshot table lives on. Flagged units are rewritten with
        # verified-equal row counts either way.
        n_compacted = 0
        n_retention_deleted = 0
        maint = spec.destination.options.get("maintenance") or {}
        # Retention as a YAML switch (round 9): after a PASSED publish
        # to a SNAPSHOT table, delete rows matching the predicate via
        # position-delete vectors (sources/snapshots.py delete_where —
        # no data rewrite; pair with compact_small_files + vacuum for
        # physical erasure). {{ ds }} substitutes so rolling windows
        # express naturally:
        #   destination:
        #     maintenance:
        #       retention_delete_where: "event_date < date_sub('{{ ds }}', 30)"
        # Runs BEFORE compaction so a same-run compact materializes it.
        if published and maint.get("retention_delete_where"):
            if spec.destination.type != "snapshot":
                raise ValueError(
                    "maintenance.retention_delete_where requires a "
                    "snapshot destination (row-level deletes commit "
                    "via the manifest pointer); got "
                    f"{spec.destination.type!r}"
                )
            import re as _re

            pred = str(maint["retention_delete_where"])
            # whitespace-tolerant {{ds}} spelling + {ds}; an
            # UNSUBSTITUTED template must fail loudly — F.expr would
            # evaluate '{{ds}}' as a string literal and the retention
            # would silently no-op forever (review r9)
            tmpl = _re.compile(r"\{\{\s*ds\s*\}\}|\{ds\}")
            if tmpl.search(pred):
                if ds is None:
                    raise ValueError(
                        "maintenance.retention_delete_where uses a "
                        "{{ ds }} template but the run has no ds"
                    )
                pred = tmpl.sub(ds, pred)
            from ..sources.snapshots import (
                _read_manifest,
                delete_where,
                snapshot_versions,
            )

            before = snapshot_versions(published)[-1]
            v = delete_where(spark, published, pred)
            if v != before:
                n_retention_deleted = _read_manifest(published, v).get(
                    "n_deleted", 0
                )
        if (
            published
            and spec.destination.type in ("parquet", "snapshot")
            and maint.get("compact_small_files")
        ):
            import os as _os

            small = int(maint.get("small_file_mb", 32)) << 20
            tgt = int(maint.get("target_mb", 128))
            if spec.destination.type == "snapshot":
                from ..sources.snapshots import compact_small_dirs

                n_compacted = (
                    compact_small_dirs(
                        spark, published, small_file_bytes=small,
                        target_mb=tgt,
                    )
                    .filter("swapped")
                    .count()
                )
            else:
                if not _os.path.isdir(published):
                    # compact_flagged's rename swap walks local paths;
                    # silently no-opping on s3a://... would let small
                    # files accumulate while the user believes
                    # compaction is active (review r8b)
                    raise ValueError(
                        "maintenance.compact_small_files requires a "
                        "local/shared-filesystem destination path; got "
                        f"{published!r} (object stores: use snapshot "
                        "tables, whose compaction commits via the "
                        "manifest pointer)"
                    )
                from ..operators.layout import compact_flagged

                n_compacted = (
                    compact_flagged(
                        spark,
                        published,
                        small_file_bytes=small,
                        target_mb=tgt,
                    )
                    .filter("swapped")
                    .count()
                )
        t3 = time.perf_counter()
        if not report.passed and alert is not None:
            # the reference's Slack alert hook (ref: dag_factory.py:80-87),
            # as a pluggable callback carrying the structured report.
            alert(spec.dag_id, report)
        return PipelineResult(
            spec=spec,
            report=report,
            published_path=published,
            quarantined_path=quarantined,
            quarantined_rows_path=quarantined_rows,
            n_rows=report.n_rows,
            metrics={
                "plan_s": round(t1 - t0, 3),
                "checks_s": round(t2 - t1, 3),
                "write_s": round(t3 - t2, 3),
                "total_s": round(t3 - t0, 3),
                "rows_quarantined": n_bad_rows,
                "partitions_compacted": n_compacted,
                "rows_retention_deleted": n_retention_deleted,
            },
        )

    return run


def run_pipeline(
    spark: SparkSession,
    spec: PipelineSpec,
    ds: str | None = None,
    transform: Callable[[DataFrame], DataFrame] | None = None,
    alert: AlertFn | None = None,
) -> PipelineResult:
    return compile_pipeline(spec, transform, alert)(spark, ds)


def backfill(
    spark: SparkSession,
    spec: PipelineSpec,
    dates: list[str],
    transform: Callable[[DataFrame], DataFrame] | None = None,
    alert: AlertFn | None = None,
) -> list[PipelineResult]:
    """Run one pipeline over a list of ``ds`` partitions — the engine-side
    analog of Airflow catchup (SURVEY §2.11 C6 keeps scheduling itself out
    of scope; this is the idempotent re-run primitive a scheduler calls).

    Idempotency comes from the sink semantics: parquet sinks use dynamic
    partition overwrite (re-running a ds replaces exactly that partition),
    snapshot sinks version each run. A DQ failure quarantines that ds and
    CONTINUES the backfill — one bad day must not wedge a month's catchup;
    the per-ds results carry who passed, who quarantined, and the stage
    timings.
    """
    run = compile_pipeline(spec, transform, alert)
    return [run(spark, ds) for ds in dates]
