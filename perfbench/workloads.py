"""The benchmark's workloads: inputs, timed runs, staged (traced) runs
and output checks.

Every timed run goes through the package's public entry point
``plans.pipeline.run_pipeline``. The staged passes call each layer's
public function in pipeline order, with the pipeline's own
materialize-and-re-spread boundary (``_ckpt_spread``) between layers.
``web_curation``'s traced run also drains its shards through
``streaming.pipeline_stream.clean_quality_stream`` feeding
``streaming.dedup_stream.streaming_minhash_dedup_incremental``.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field

import checks
import gen
from checks import median

WIKI_VOCAB_SIZE = 300
STREAM_SCHEMA = "doc_id long, source string, lang string, text string"

WIKI_PARAMS = gen.WikiParams()
WEB_PARAMS = gen.CorpusParams()

WIKI_STAGES = ["ingest", "clean", "dedup", "quality"]
WEB_STAGES = [
    "ingest", "clean", "dedup", "soft_sample", "paragraph_dedup",
    "quality", "ngram_repetition", "dsir", "holdout",
]

# the trace spans, in pipeline order
SPANS = [
    "sources.wiki_parse", "cleaning.clean", "dedup.signatures", "dedup.dedup",
    "dedup.soft_weights", "quality.battery", "quality.ngram_gate",
    "corpus.paragraph_dedup", "corpus.dsir", "corpus.holdout", "corpus.shuffle",
    "tokenize.word_counts", "tokenize.train", "tokenize.encode", "sources.sink_write",
]
# per-layer counts and their units
COUNTS = {
    "sources.articles_out": "count", "sources.sink_mb": "MB",
    "cleaning.chars_removed_frac": "ratio", "dedup.candidate_pairs": "count",
    "dedup.removed": "count", "dedup.removed_per_candidate": "ratio",
    "quality.pass_frac": "ratio", "corpus.paragraphs_removed": "count",
    "corpus.dsir_kept": "count", "tokenize.distinct_words": "count",
    "tokenize.merges": "count", "tokenize.chars_per_token": "ratio",
    "pipeline.jobs": "count", "pipeline.stages": "count", "pipeline.tasks": "count",
    "pipeline.exec_util": "ratio", "streaming.trigger_ms_p50": "ms",
    "streaming.add_batch_ms_p50": "ms", "streaming.planning_ms_p50": "ms",
    "streaming.service_growth": "ratio", "streaming.state_mb": "MB",
    "trace.overhead_s": "s",
}


def wiki_config():
    from llm_training_data_pipeline_spark.plans.config import PipelineConfig

    return PipelineConfig({"tokenization": {"vocab_size": WIKI_VOCAB_SIZE}})


def web_config():
    """``pipeline_e2e_full`` plus the shuffled sink, tokenization off."""
    from llm_training_data_pipeline_spark.plans.config import PipelineConfig

    return PipelineConfig(
        {
            "cleaning": {"min_length_chars": 100},
            "deduplication": {
                "enabled": True,
                "algorithm": "soft_exact",
                "soft_sample": {"enabled": True, "base_rate": 1.0},
                "paragraph_dedup": {"enabled": True},
            },
            "quality": {
                "enabled": True,
                "min_words": 20,
                "ngram_repetition_filter": {"enabled": True},
            },
            "dsir": {"enabled": True, "keep_fraction": 0.5},
            "holdout": {"enabled": True, "per_source": 5, "separate_output": True},
            "tokenization": {"enabled": False},
            "output": {"shuffle": {"enabled": True, "seed": 42}},
        }
    )


@dataclass
class Inputs:
    paths: dict[str, str]
    stats: dict
    in_ids: set[int]
    excluded_ids: set[int] = field(default_factory=set)


def spread(df):
    """Materialize and re-spread to ``defaultParallelism`` through the
    pipeline's own checkpoint boundary, so the staged split follows it."""
    from llm_training_data_pipeline_spark.plans.pipeline import _ckpt_spread

    return _ckpt_spread(df)


# --- wiki_reference -------------------------------------------------------


class WikiReference:
    name = "wiki_reference"
    stages = WIKI_STAGES

    def generate(self, seed: int, work: str) -> Inputs:
        xml, pages = gen.generate_wiki(seed, WIKI_PARAMS)
        path = os.path.join(work, "in", "wiki.xml")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as fh:
            fh.write(xml)
        stats = gen.corpus_stats(pages)
        stats["xml_mb"] = round(len(xml.encode("utf-8")) / 1e6, 4)
        main_ids = {p["page_id"] for p in pages if p["ns"] == 0 and p["redirect"] is None}
        excluded = {p["page_id"] for p in pages} - main_ids
        return Inputs({"xml": path}, stats, main_ids, excluded)

    def docs(self, spark, inp: Inputs):
        from pyspark.sql import functions as F

        from llm_training_data_pipeline_spark.sources.wiki import parse_wikipedia

        return parse_wikipedia(spark, inp.paths["xml"]).select(
            F.col("page_id").alias("doc_id"), "title", "text"
        )

    def run(self, spark, inp: Inputs, out_dir: str) -> dict:
        from llm_training_data_pipeline_spark.plans.pipeline import run_pipeline

        return run_pipeline(spark, self.docs(spark, inp), wiki_config(), out_dir)

    def check(self, inp: Inputs, out_dir: str, summary: dict) -> tuple[list[str], dict]:
        import json

        errs: list[str] = []
        rows = checks.read_rows(os.path.join(out_dir, "pipeline_output.parquet"))
        ids = [r["doc_id"] for r in rows]
        errs += checks.ids_subset(ids, inp.in_ids | inp.excluded_ids, "output")
        errs += checks.no_duplicate_ids(ids, "output")
        leaked = set(ids) & inp.excluded_ids
        if leaked:
            errs.append(f"{len(leaked)} redirect or non-main-namespace pages survived")
        errs += checks.stage_rows_non_increasing(summary.get("stages", {}), self.stages)
        if summary.get("stages", {}).get("quality", {}).get("rows") != len(rows):
            errs.append("output rows differ from the quality stage count")
        if not rows:
            errs.append("empty output")
        with open(os.path.join(out_dir, "tokenizer.json"), encoding="utf-8") as fh:
            tok = json.load(fh)
        vocab = len(tok.get("vocab", {}))
        if not 0 < vocab <= WIKI_VOCAB_SIZE:
            errs.append(f"tokenizer vocab {vocab} outside (0, {WIKI_VOCAB_SIZE}]")
        max_id = max((max(r["tokens"]) for r in rows if r["tokens"]), default=-1)
        if max_id >= min(vocab, WIKI_VOCAB_SIZE):
            errs.append(f"token id {max_id} >= vocab size {vocab}")
        if not os.path.exists(os.path.join(out_dir, "pipeline_summary.json")):
            errs.append("pipeline_summary.json missing")
        return errs, {"output": checks.rows_digest(rows)}

    def staged(self, spark, tr, inp: Inputs, out_dir: str) -> dict:
        from pyspark.sql import functions as F

        from llm_training_data_pipeline_spark.operators import cleaning, dedup, quality
        from llm_training_data_pipeline_spark.operators import tokenize as tk
        from llm_training_data_pipeline_spark.sources import sinks

        cfg = wiki_config()
        c: dict = {}
        with tr.span("sources.wiki_parse"):
            docs = spread(self.docs(spark, inp))
            c["sources.articles_out"] = docs.count()
        df = _staged_clean(tr, docs, cleaning.CleanerConfig(), c)
        d = cfg.section("deduplication")
        mh = dedup.MinHashConfig(
            num_perm=d["num_permutations"], threshold=d["threshold"],
            shingle_size=d["shingle_size"], num_bands=d["num_bands"],
        )
        with tr.span("dedup.signatures"):
            sig = dedup.minhash_signatures(df, cfg=mh).localCheckpoint(eager=True)
        with tr.span("dedup.dedup"):
            dd = spread(dedup.minhash_dedup(df, cfg=mh, signatures=sig))
            n_in, n_out = df.count(), dd.count()
        spark.sparkContext.setJobGroup("dedup.audit", "dedup.audit")
        cand = dedup.minhash_band_candidates(sig, cfg=mh, distinct_pairs=False).count()
        c["dedup.candidate_pairs"] = cand
        c["dedup.removed"] = n_in - n_out
        c["dedup.removed_per_candidate"] = (n_in - n_out) / cand if cand else 0.0
        q = _staged_quality(tr, dd, quality.QualityConfig(), c)
        t = cfg.section("tokenization")
        with tr.span("tokenize.word_counts"):
            wc_df = tk.word_counts(q, "text").orderBy(F.col("cnt").desc(), F.col("word"))
            wc = [(r["word"], r["cnt"]) for r in wc_df.limit(2_000_000).collect()]
        with tr.span("tokenize.train"):
            tok = tk.TRAINERS[t["algorithm"]](wc, t["vocab_size"], t["min_frequency"])
        with tr.span("tokenize.encode"):
            enc = spread(tk.tokenize_documents(q, tok, "text"))
        c["tokenize.distinct_words"] = len(wc)
        c["tokenize.merges"] = len(tok.merges)
        sums = enc.agg(F.sum(F.length("text")).alias("ch"), F.sum("token_count").alias("tk")).first()
        c["tokenize.chars_per_token"] = (sums["ch"] or 0) / sums["tk"] if sums["tk"] else 0.0
        with tr.span("sources.sink_write"):
            sinks.write_parquet(enc, os.path.join(out_dir, "pipeline_output.parquet"))
            tok.save(os.path.join(out_dir, "tokenizer.json"))
            if hasattr(tok, "save_hf"):
                tok.save_hf(os.path.join(out_dir, "tokenizer_hf.json"))
        return c

    def digest_rows(self, out_dir: str) -> dict:
        return {"output": checks.rows_digest(checks.read_rows(os.path.join(out_dir, "pipeline_output.parquet")))}


def _staged_clean(tr, docs, ccfg, c: dict):
    from pyspark.sql import functions as F

    from llm_training_data_pipeline_spark.operators import cleaning

    with tr.span("cleaning.clean"):
        df = cleaning.clean_documents(docs, "text", ccfg)
        df = spread(df.drop("text").withColumnRenamed("cleaned_text", "text"))
    s = df.agg(F.sum("chars_removed").alias("r"), F.sum("original_length").alias("o")).first()
    c["cleaning.chars_removed_frac"] = (s["r"] or 0) / s["o"] if s["o"] else 0.0
    return df


def _staged_quality(tr, df, qcfg, c: dict):
    from pyspark.sql import functions as F

    from llm_training_data_pipeline_spark.operators import quality

    with tr.span("quality.battery"):
        q = quality.with_quality(df, "text", qcfg, include_scores=False)
        q = spread(q.filter(F.col("passed")).drop("passed", "reason"))
        n_in, n_out = df.count(), q.count()
    c["quality.pass_frac"] = n_out / n_in if n_in else 0.0
    return q


# --- web_curation ---------------------------------------------------------


class WebCuration:
    name = "web_curation"
    stages = WEB_STAGES

    def generate(self, seed: int, work: str) -> Inputs:
        docs = gen.generate_docs(seed, WEB_PARAMS)
        d = os.path.join(work, "in", "web")
        gen.write_shards(docs, d, WEB_PARAMS.shards)
        return Inputs({"web": d}, gen.corpus_stats(docs), {x["doc_id"] for x in docs})

    def run(self, spark, inp: Inputs, out_dir: str) -> dict:
        from llm_training_data_pipeline_spark.plans.pipeline import run_pipeline

        docs = spark.read.parquet(inp.paths["web"])
        return run_pipeline(spark, docs, web_config(), out_dir)

    def _outputs(self, out_dir: str) -> tuple[list[dict], list[dict]]:
        train = checks.read_rows(os.path.join(out_dir, "pipeline_output.parquet"))
        hold = checks.read_rows(os.path.join(out_dir, "holdout.parquet"))
        return train, hold

    def check(self, inp: Inputs, out_dir: str, summary: dict) -> tuple[list[str], dict]:
        train, hold = self._outputs(out_dir)
        errs: list[str] = []
        ids = [r["doc_id"] for r in train + hold]
        errs += checks.ids_subset(ids, inp.in_ids, "output")
        errs += checks.no_duplicate_ids(ids, "train+holdout")
        stages = summary.get("stages", {})
        errs += checks.stage_rows_non_increasing(stages, self.stages)
        if stages.get("holdout", {}).get("rows") != len(ids):
            errs.append("train+holdout rows differ from the holdout stage count")
        if stages.get("holdout", {}).get("eval_rows") != len(hold):
            errs.append("holdout rows differ from the stage's eval count")
        shared = {checks.text_digest(r["text"]) for r in train} & {
            checks.text_digest(r["text"]) for r in hold
        }
        if shared:
            errs.append(f"{len(shared)} text digests in both train and holdout")
        if not train or not hold:
            errs.append("empty train or holdout output")
        return errs, {"train": checks.rows_digest(train), "holdout": checks.rows_digest(hold)}

    def staged(self, spark, tr, inp: Inputs, out_dir: str) -> dict:
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from llm_training_data_pipeline_spark.operators import cleaning, corpus, dedup, quality
        from llm_training_data_pipeline_spark.sources import sinks

        cfg = web_config()
        c: dict = {}
        docs = spark.read.parquet(inp.paths["web"])
        c["sources.articles_out"] = len(inp.in_ids)
        df = _staged_clean(tr, docs, cleaning.CleanerConfig(min_length_chars=100), c)
        with tr.span("dedup.soft_weights"):
            w = Window.partitionBy(dedup.exact_hash(F.col("text")))
            s = df.withColumn("_n_copies", F.count(F.lit(1)).over(w).cast("long"))
            s = s.withColumn(
                "soft_weight_ppm", F.expr("1000000 div _n_copies").cast("long")
            ).drop("_n_copies")
            s = corpus.weighted_sample(
                s, F.col("soft_weight_ppm") / F.lit(1_000_000.0), base_rate=1.0
            )
            s = spread(s)
            n_in, n_out = df.count(), s.count()
        c["dedup.removed"] = n_in - n_out
        with tr.span("corpus.paragraph_dedup"):
            p = spread(corpus.remove_dup_paragraphs(s, "text"))
        c["corpus.paragraphs_removed"] = p.agg(F.sum("n_paras_removed")).first()[0] or 0
        p = p.drop("n_paras_removed")
        q = _staged_quality(tr, p, quality.QualityConfig(min_words=20), c)
        helper = [
            f"top_{n}gram_char_frac" for n, _ in quality.GopherRepetitionConfig().max_top_ngram_frac
        ] + [
            f"dup_{n}gram_char_frac" for n, _ in quality.GopherRepetitionConfig().max_dup_ngram_frac
        ]
        with tr.span("quality.ngram_gate"):
            g = quality.with_dup_ngram_stats(q, "text").filter(F.col("ngram_repetition_pass"))
            g = spread(g.drop("ngram_repetition_pass", *helper))
        ds = cfg.section("dsir")
        with tr.span("corpus.dsir"):
            cond = F.col("lang") == ds["target_lang"]
            nb = int(ds["num_buckets"])
            counts = corpus.dsir_doc_bucket_counts(g, cond, num_buckets=nb)
            lr = corpus.dsir_log_ratios_within(
                g, cond, num_buckets=nb, materialize=True, doc_counts=counts
            )
            k = max(1, int(g.count() * float(ds["keep_fraction"])))
            keep = corpus.dsir_sample(g, lr, k=k, num_buckets=nb, doc_counts=counts)
            keep = keep.select("doc_id").localCheckpoint(eager=True)
            kept = spread(g.join(keep, on="doc_id", how="left_semi"))
        c["corpus.dsir_kept"] = kept.count()
        with tr.span("corpus.holdout"):
            h = spread(corpus.eval_holdout(kept, per_source=int(cfg.get("holdout.per_source"))))
        with tr.span("corpus.shuffle"):
            sh = corpus.corpus_shuffle(h, seed=int(cfg.get("output.shuffle.seed")))
            sh = sh.localCheckpoint(eager=True)
        with tr.span("sources.sink_write"):
            sinks.write_parquet(
                sh.filter(F.col("split") == "eval").drop("split", "reject_reason"),
                os.path.join(out_dir, "holdout.parquet"),
            )
            sinks.write_parquet(
                sh.filter(F.col("split") != "eval").drop("split", "reject_reason"),
                os.path.join(out_dir, "pipeline_output.parquet"),
            )
        return c

    def digest_rows(self, out_dir: str) -> dict:
        train, hold = self._outputs(out_dir)
        return {"train": checks.rows_digest(train), "holdout": checks.rows_digest(hold)}


# --- streaming (closed loop, in web_curation's traced run) ---------------


@dataclass
class StreamResult:
    progress: list[dict]
    sink_dir: str
    state_dir: str
    files: list[str]


def run_stream(spark, files: list[str], work: str, timeout_s: float) -> StreamResult:
    """Land ``files`` in a watched directory, then drain them through the
    stream, one file per trigger (``availableNow``)."""
    from llm_training_data_pipeline_spark.streaming.dedup_stream import (
        streaming_minhash_dedup_incremental,
    )
    from llm_training_data_pipeline_spark.streaming.pipeline_stream import (
        clean_quality_stream,
        stream_documents_dir,
    )

    landing = os.path.join(work, "landing")
    sink_dir = os.path.join(work, "out", "sink")
    state_dir = os.path.join(work, "out", "state")
    for d in (landing, sink_dir, state_dir):
        os.makedirs(d, exist_ok=True)
    n = len(files)
    t0 = time.time() - n
    for i, f in enumerate(files):
        # the file source takes files oldest first; distinct rising
        # mtimes keep batch i == file i
        dst = os.path.join(landing, os.path.basename(f))
        shutil.copyfile(f, dst + ".tmp")
        os.utime(dst + ".tmp", (t0 + i, t0 + i))
        os.replace(dst + ".tmp", dst)

    def sink(df, epoch_id: int) -> None:
        df.write.mode("overwrite").parquet(os.path.join(sink_dir, f"epoch={epoch_id}"))

    stream = stream_documents_dir(spark, landing, STREAM_SCHEMA, max_files_per_trigger=1)
    query = (
        streaming_minhash_dedup_incremental(clean_quality_stream(stream), state_dir=state_dir, sink=sink)
        .option("checkpointLocation", os.path.join(work, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    deadline = time.time() + timeout_s
    try:
        while time.time() < deadline:
            if query.exception() is not None:
                break
            done = {p["batchId"] for p in query.recentProgress if "addBatch" in p.get("durationMs", {})}
            if len(done) >= n or not query.isActive:
                break
            time.sleep(0.05)
    finally:
        progress = [p for p in query.recentProgress if "addBatch" in p.get("durationMs", {})]
        query.stop()
    exc = query.exception()
    if exc is not None:
        raise RuntimeError(f"stream query failed: {exc}")
    by_batch = {p["batchId"]: p for p in progress}
    return StreamResult([by_batch[b] for b in sorted(by_batch)], sink_dir, state_dir, files)


def stream_accepted(res: StreamResult) -> dict[int, list[dict]]:
    out: dict[int, list[dict]] = {}
    for name in os.listdir(res.sink_dir):
        if name.startswith("epoch="):
            out[int(name.split("=", 1)[1])] = checks.read_rows(os.path.join(res.sink_dir, name))
    return out


def stream_check(spark, res: StreamResult) -> tuple[list[str], dict[int, list[dict]]]:
    """Failures of a finished stream, and its accepted rows per batch.

    With one file per trigger, batch ``e`` reads file ``e``. The batch
    clean+quality reference runs the same public function over all the
    landed files as one batch frame."""
    import pyarrow.parquet as pq

    from llm_training_data_pipeline_spark.streaming.pipeline_stream import clean_quality_stream

    errs: list[str] = []
    acc = stream_accepted(res)
    n = len(res.files)
    if sorted(acc) != list(range(n)) or len(res.progress) != n:
        errs.append(f"{len(res.progress)} batches and {len(acc)} sink epochs for {n} files")
    file_ids = [set(pq.read_table(f, columns=["doc_id"]).column(0).to_pylist()) for f in res.files]
    batch = spark.read.schema(STREAM_SCHEMA).parquet(*res.files)
    passing = {r["doc_id"] for r in clean_quality_stream(batch).select("doc_id").collect()}
    seen_text: set[str] = set()
    for epoch, rows in sorted(acc.items()):
        for r in rows:
            if epoch >= n or r["doc_id"] not in file_ids[epoch]:
                errs.append(f"batch {epoch} accepted doc {r['doc_id']} from another file")
            if r["doc_id"] not in passing:
                errs.append(f"batch {epoch} accepted doc {r['doc_id']} that fails batch clean+quality")
            d = checks.text_digest(r["text"])
            if d in seen_text:
                errs.append(f"batch {epoch} accepted an exact duplicate (doc {r['doc_id']})")
            seen_text.add(d)
    return errs, acc


def stream_layer_counters(res: StreamResult) -> dict:
    prog = res.progress
    trig = [p["durationMs"].get("triggerExecution", 0) for p in prog]
    add = [p["durationMs"].get("addBatch", 0) for p in prog]
    plan = [p["durationMs"].get("queryPlanning", 0) for p in prog]
    q = max(1, len(trig) // 4)
    first = median(trig[:q]) if trig else 0
    return {
        "streaming.trigger_ms_p50": median(trig) if trig else 0.0,
        "streaming.add_batch_ms_p50": median(add) if add else 0.0,
        "streaming.planning_ms_p50": median(plan) if plan else 0.0,
        "streaming.service_growth": median(trig[-q:]) / first if first else 0.0,
        "streaming.state_mb": checks.dir_bytes(res.state_dir) / 1e6,
    }


WORKLOADS = {w.name: w for w in (WikiReference(), WebCuration())}
