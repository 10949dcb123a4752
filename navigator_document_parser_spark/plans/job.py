"""The extraction job: route -> (skew rebalance) -> extract -> output shape.

Spark lifecycle equivalent of cli/run_parser.py's imperative dataflow
(SURVEY §3.1): the whole pipeline is one declarative plan — scan ->
route column (P1) -> optional explicit repartition (skew) -> one
ArrowEvalPython stage (extract_udf: M1-M12 + M8) -> column flatten.
Without an explicit repartition, the UDF stage is sized by cores and
bytes (size_udf_input), never by the input's file count.
Catalyst prunes the blob column after the UDF; only the result struct
survives downstream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.udfs import (
    extract_udf,
    make_translate_blocks_udf,
    make_translate_meta_udf,
    make_translate_pdf_blocks_udf,
)
from ..extraction.translate import stub_translate  # noqa: F401 (public surface)

OUTPUT_COLUMNS = [
    "url", "warc_ts", "text", "detected_title", "detected_date",
    "has_valid_text",
    "text_blocks", "pdf_blocks", "pdf_tables", "page_metadata", "md5sum",
    "languages", "parser", "error", "translated", "translated_to",
    "pipeline_metadata", "run_id",
]

ENGINE_VERSION = "spark-docparse/0.1.0"


def with_route(df: DataFrame) -> DataFrame:
    """P1 content router, single pass (cli/run_parser.py:176-192).

    The reference keys PDF routing off the cdn-object '.pdf' suffix; in
    the table model the url carries that suffix. Rows with no usable blob
    route to 'none' (the no-content-type branch).
    """
    return df.withColumn(
        "route",
        F.when(F.lower(F.col("url")).endswith(".pdf"), F.lit("pdf"))
        .when(
            F.col("html").isNotNull() & (F.length(F.col("html")) > F.lit(0)),
            F.lit("html"),
        )
        .otherwise(F.lit("none")),
    )


def rebalance_for_skew(df: DataFrame, partitions: int) -> DataFrame:
    """Explicit skew defusal (SURVEY §4.1 'skew' row).

    A handful of 100x-median blobs can stall one Arrow batch/task. A
    round-robin repartition spreads rows uniformly regardless of input
    file layout. This IS a full shuffle of the blob bytes — worth it when
    input files are few/skewed, skippable when the scan already produces
    balanced splits (spark.sql.files.maxPartitionBytes handles that for
    parquet). AQE cannot help a map-only stage, hence the explicit knob.

    Byte-balance bound: round-robin balances ROW counts; residual byte
    imbalance is bounded by single-blob granularity (one document cannot
    be split across tasks), i.e. max_partition <= mean + max_blob. Size
    ``partitions`` so mean partition bytes >> the largest expected blob
    and the bound is tight (tested in tests/test_skew.py).

    Without this knob the UDF input is only coalesced (size_udf_input):
    whole input partitions are grouped, never split, so a 100x blob
    shares its core with the rest of its group's rows instead of being
    spread. ``--rebalance-partitions`` stays the defusal for such inputs.
    """
    return df.repartition(partitions)


def size_udf_input(df: DataFrame) -> DataFrame:
    """Coalesce the input of a Python-UDF stage, without a shuffle, to
    max(defaultParallelism, ceil(estimated plan bytes /
    spark.sql.files.maxPartitionBytes)) partitions.

    Each Python task pays a fixed start cost (about 0.1-0.5 s in
    pyspark's per-task importlib.invalidate_caches(), which re-reads
    pyspark.zip, whatever the row count), so a scan that yields one task
    per input file multiplies that cost by the file count. One task per
    core, or more when the input is large, amortises it. A frame whose
    plan size Spark does not know (RDD-backed rows report
    spark.sql.defaultSizeInBytes) keeps its partitioning.
    """
    spark = df.sparkSession
    conf = spark._jsparkSession.sessionState().conf()
    size = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    if size >= conf.defaultSizeInBytes():
        return df
    n = max(
        spark.sparkContext.defaultParallelism,
        -(-size // conf.filesMaxPartitionBytes()),
    )
    # a join estimate can still be near 2^63; coalesce takes an int32
    # and never raises the partition count anyway
    return df.coalesce(min(n, 2**31 - 1))


def run_extraction(
    docs: DataFrame,
    run_id: str = "run-0",
    rebalance_partitions: int | None = None,
    parsing_date: str | None = None,
) -> DataFrame:
    """documents(url, warc_ts, html, text, lang) -> documents_extracted.

    Single ArrowEvalPython stage; keys and passthroughs stay JVM-side —
    only (html, route) cross into Python, only the result struct comes
    back.

    ``parsing_date`` is a RUN-LEVEL literal (M13 parity,
    cli/parse_pdfs.py:414-422 inserts {parser_metadata: {parsing_date}}
    into pipeline_metadata) — deliberately not per-row now():
    determinism requires the caller to pin it once per run.
    """
    if rebalance_partitions:
        docs = rebalance_for_skew(docs, rebalance_partitions)
    else:
        docs = size_udf_input(docs)
    routed = with_route(docs)

    extracted = routed.withColumn(
        "x", extract_udf(F.col("html"), F.col("route"))
    )

    # M13 enrichment. New run-level parser metadata:
    new_inner = F.create_map(
        F.lit("engine_version"), F.lit(ENGINE_VERSION),
        F.lit("parsing_date"), F.lit(parsing_date or "1970-01-01T00:00:00"),
        F.lit("run_id"), F.lit(run_id),
    )
    if "pipeline_metadata" in docs.columns:
        # merge-with-precedence parity for re-parse of already-enriched
        # rows (cli/parse_pdfs.py:204-242 add_parser_metadata): when the
        # existing map LACKS 'parser_metadata' the reference REPLACES the
        # whole pipeline_metadata (quirk kept); when present, other
        # top-level keys and non-conflicting inner keys survive and the
        # new run's keys overwrite (the reference warns per overwrite —
        # the pm_overwrites observe counter below is the batch analog).
        old = F.col("pipeline_metadata")
        has_pm = old.isNotNull() & F.map_contains_key(
            old, F.lit("parser_metadata")
        )
        old_inner = F.element_at(old, F.lit("parser_metadata"))
        merged_inner = F.map_concat(
            F.map_filter(
                old_inner,
                lambda k, _: ~k.isin(
                    "engine_version", "parsing_date", "run_id"
                ),
            ),
            new_inner,
        )
        pm_col = F.when(
            has_pm,
            F.map_concat(
                F.map_filter(old, lambda k, _: k != F.lit("parser_metadata")),
                F.create_map(F.lit("parser_metadata"), merged_inner),
            ),
        ).otherwise(F.create_map(F.lit("parser_metadata"), new_inner))
        pm_overwrote = has_pm & (
            F.size(
                F.map_filter(
                    old_inner,
                    lambda k, _: k.isin(
                        "engine_version", "parsing_date", "run_id"
                    ),
                )
            )
            > 0
        )
        extracted = extracted.withColumn("_pm", pm_col).withColumn(
            "_pm_overwrote", pm_overwrote.cast("int")
        )
    else:
        extracted = extracted.withColumn(
            "_pm", F.create_map(F.lit("parser_metadata"), new_inner)
        ).withColumn("_pm_overwrote", F.lit(0))

    out = extracted.select(
        "url",
        "warc_ts",
        F.col("x.text").alias("text"),
        F.col("x.detected_title").alias("detected_title"),
        F.col("x.detected_date").alias("detected_date"),
        F.col("x.has_valid_text").alias("has_valid_text"),
        F.col("x.text_blocks").alias("text_blocks"),
        F.col("x.pdf_blocks").alias("pdf_blocks"),
        F.col("x.pdf_tables").alias("pdf_tables"),
        F.col("x.page_metadata").alias("page_metadata"),
        F.col("x.md5sum").alias("md5sum"),
        F.col("x.languages").alias("languages"),
        F.col("x.parser").alias("parser"),
        F.col("x.error").alias("error"),
        F.lit(False).alias("translated"),
        F.lit(None).cast("string").alias("translated_to"),
        # M13: parser-metadata enrichment under the 'parser_metadata' key
        # (src/base.py:12, cli/parse_pdfs.py:204-242), merged with any
        # pre-existing pipeline_metadata above
        F.col("_pm").alias("pipeline_metadata"),
        F.col("_pm_overwrote").alias("_pm_overwrote"),
        F.lit(run_id).alias("run_id"),
    )
    # run-level counters (X4): visible via QueryExecutionListener / UI
    return out.observe(
        f"extraction_{run_id}",
        F.count(F.lit(1)).alias("docs"),
        F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0)).alias(
            "failures"
        ),
        F.sum(F.length(F.col("text"))).alias("bytes_text_out"),
        # reference warns per overwritten parser_metadata key; the batch
        # analog is a run-level count of re-enriched rows
        F.sum(F.col("_pm_overwrote")).alias("pm_overwrites"),
    ).drop("_pm_overwrote")


def raw_parse_artifacts(extracted: DataFrame) -> DataFrame:
    """S8 analog: raw-extraction-artifact side table.

    The reference optionally archives the raw Azure AnalyzeResult JSON
    per document (cli/parse_pdfs.py:245-289). Our engine's raw artifact
    is the full extraction struct serialized to JSON — an append-only
    side table `(url, warc_ts, run_id, artifact)` that downstream
    debugging/replays can read without touching the main output.
    """
    return extracted.select(
        "url",
        "warc_ts",
        "run_id",
        F.to_json(
            F.struct(
                "parser", "detected_title", "detected_date",
                "has_valid_text",
                "text_blocks", "pdf_blocks", "pdf_tables", "page_metadata",
                "md5sum", "languages", "error",
            )
        ).alias("artifact"),
    )


def flip_pdf_block_coords(extracted: DataFrame) -> DataFrame:
    """M12 Spark-side: convert pdf block bboxes from top-left-origin y to
    bottom-left (PDF convention): y' = H - y, y0/y1 swapped.

    Pure Catalyst transform over the blocks array zipped with the page
    height lookup (map from page_metadata) — no Python. Mirrors
    cpr_sdk's vertically_flip_text_block_coords as exercised by
    cli/test/test_run_parser.py:118-121.
    """
    heights = F.map_from_arrays(
        F.col("page_metadata.page_number"), F.col("page_metadata.height")
    )
    flipped = F.transform(
        F.col("pdf_blocks"),
        lambda b: F.struct(
            b["page"].alias("page"),
            b["text"].alias("text"),
            b["language"].alias("language"),
            b["x0"].alias("x0"),
            (F.element_at(heights, b["page"]) - b["y1"]).alias("y0"),
            b["x1"].alias("x1"),
            (F.element_at(heights, b["page"]) - b["y0"]).alias("y1"),
            b["offset"].alias("offset"),
            b["length"].alias("length"),
        ),
    )
    return extracted.withColumn(
        "pdf_blocks",
        F.when(F.col("pdf_blocks").isNotNull(), flipped).otherwise(
            F.col("pdf_blocks")
        ),
    )


def run_translation(
    extracted: DataFrame,
    target_languages: list[str] | None = None,
    run_id: str | None = None,
    committed: DataFrame | None = None,
) -> DataFrame:
    """Translation stage (P6-P8 + M14) over extracted outputs.

    Gating is pure Catalyst:
      P6 filter  (cli/translate_outputs.py:17-26)
      P7 array_except under the single-language guard
         (cli/translate_outputs.py:29-47)
    then one explode per remaining target and one Arrow pass translating
    block texts (stub translator — deterministic reference-mock format).
    Emits ONLY the translated rows (reference writes them as additional
    *_translated_{lang}.json outputs alongside the originals).

    ``target_languages`` defaults to config.TARGET_LANGUAGES (the
    reference's env knob, src/config.py:13-15). ``run_id``, when given,
    restamps the output rows so sink lineage attributes them to the
    translation run, not the extraction run they derive from.

    ``committed`` (optional): a (url, warc_ts, translated_to) DataFrame
    of already-committed translations (sink.committed_translation_keys).
    The exploded (candidate x target) set is anti-joined against it
    BEFORE the translate UDFs, so a resumed run skips the translation
    compute for finished pairs instead of re-translating and letting the
    sink drop the duplicates after the fact (reference: skip-if-exists
    before parsing, cli/parse_htmls.py:82-83).
    """
    if target_languages is None:
        from ..config import TARGET_LANGUAGES

        target_languages = TARGET_LANGUAGES
    targets = F.array(*[F.lit(t) for t in target_languages])

    candidates = extracted.filter(
        (~F.col("translated")) & F.col("url").isNotNull()
    ).withColumn(
        "to_langs",
        F.when(
            F.size(F.col("languages")) == 1,
            F.array_except(targets, F.col("languages")),
        ).otherwise(targets),
    )

    exploded = candidates.select(
        "*", F.explode(F.col("to_langs")).alias("target_language")
    ).drop("to_langs")

    if committed is not None:
        # resume: prune finished (url, warc_ts, target) pairs BELOW the
        # translate UDFs — null-safe on the document key (null url rows
        # are filtered above, warc_ts may legally be null), plain
        # equality on target (translated_to is non-null by construction)
        exploded = exploded.alias("b").join(
            committed.alias("c"),
            on=[
                F.col("b.url").eqNullSafe(F.col("c.url")),
                F.col("b.warc_ts").eqNullSafe(F.col("c.warc_ts")),
                F.col("b.target_language") == F.col("c.translated_to"),
            ],
            how="left_anti",
        )

    exploded = size_udf_input(exploded)
    translate_blocks = make_translate_blocks_udf()
    translate_pdf_blocks = make_translate_pdf_blocks_udf()
    translated = exploded.withColumn(
        "text_blocks",
        translate_blocks(F.col("text_blocks"), F.col("target_language")),
    ).withColumn(
        "pdf_blocks",
        translate_pdf_blocks(F.col("pdf_blocks"), F.col("target_language")),
    )
    # M14 residue: the reference also translates document_name and
    # document_description (src/translator/translate.py:90-96). The table
    # model's analog is an OPTIONAL doc_meta map<string,string> column —
    # when present, its values go through the same per-string gating.
    has_meta = "doc_meta" in extracted.columns
    if has_meta:
        translate_meta = make_translate_meta_udf()
        translated = translated.withColumn(
            "doc_meta",
            translate_meta(F.col("doc_meta"), F.col("target_language")),
        )

    # rebuild text from translated block lines (html: flattened block
    # lines; pdf: block texts), set language metadata
    return (
        translated
        .withColumn(
            "text",
            F.when(
                F.size(F.col("text_blocks")) > 0,
                F.array_join(F.flatten(F.col("text_blocks.text")), "\n"),
            )
            .when(
                F.col("pdf_blocks").isNotNull()
                & (F.size(F.col("pdf_blocks")) > 0),
                F.array_join(F.col("pdf_blocks.text"), "\n"),
            )
            .otherwise(F.col("text")),
        )
        .withColumn("languages", F.array(F.col("target_language")))
        .withColumn("translated", F.lit(True))
        .withColumn("translated_to", F.col("target_language"))
        .withColumn(
            "run_id",
            F.lit(run_id) if run_id is not None else F.col("run_id"),
        )
        .drop("target_language")
        .select(*(OUTPUT_COLUMNS + (["doc_meta"] if has_meta else [])))
    )
