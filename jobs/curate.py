"""spark-submit entry point for the training-data curation pipeline.

Chains the engine's oracled curation operators into the standard
corpus-assembly flow a large-scale training-data pipeline runs:

    stage 1  signals    exact dedup + MinHash-LSH near-dup clusters +
                        quality gate + C4 line filter + trained NB
                        quality classifier (top-60% cut) + benchmark
                        n-gram decontamination → one keep/reject
                        decision per document (with the reject reason)
    stage 2  survivors  the kept documents, re-materialized as a
                        documents table (the checkpoint later stages
                        and reruns read)
    stage 3  manifest   per-surviving-doc training manifest: domain
                        mixture weight (temperature-scaled), epoch
                        shuffle position (shard, pos), and sequence
                        packing (pack_id, seq_off, n_tok)

Cluster usage (same deployment shape as jobs/extract.py):

    zip -r kgforge.zip kgforge
    spark-submit --master <cluster> --py-files kgforge.zip \\
        jobs/curate.py --input <dir with documents.parquet> \\
        --workdir <checkpoint dir>

Every stage writes a parquet checkpoint under --workdir and is skipped
on rerun when its _SUCCESS marker exists (same resume contract as
run_pipeline); per-stage row counts and reject-reason tallies land in
<workdir>/metrics.json. All heavy lifting reuses the DuckDB-oracled
query functions from __spark_entry__ verbatim — this job only composes
them, so the correctness signal carries over unchanged.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from kgforge.pipeline import _exists as _done  # Hadoop-FS _SUCCESS probe  # noqa: E402
from kgforge.pipeline import _fs, _write_atomic  # noqa: E402


def _read_json(spark: SparkSession, path: str) -> dict:
    """Metrics load through the Hadoop FS (works for hdfs://, s3a://,
    local); unreadable/corrupt → {} so a crash mid-write never bricks
    the job (stage entries are re-derived from the checkpoints)."""
    try:
        hpath, fs = _fs(spark, path)
        if not fs.exists(hpath):
            return {}
        stream = fs.open(hpath)
        text = spark.sparkContext._jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
        stream.close()
        return json.loads(text)
    except Exception:
        return {}


def _write_json(spark: SparkSession, path: str, obj: dict) -> None:
    """Atomic metrics write (temp file, then rename over)."""
    _write_atomic(spark, path, json.dumps(obj, indent=1).encode("utf-8"))


def keep_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document keep decision: every signal is the corresponding
    oracled __spark_entry__ query, intersected. A document survives iff
    it is the canonical representative of its exact-duplicate group AND
    of its near-duplicate cluster, passes the quality, C4 line and
    trained-classifier (NB top-60% score cut) gates, and is not
    benchmark-contaminated. `reason` holds the first failed gate
    (priority order below) for the reject tally."""
    import __spark_entry__ as E

    d = E._t(spark, sf_dir, "documents")
    exact = E._dedup_exact(spark, sf_dir)  # doc_hash → canonical_doc_id
    clusters = E._dedup_clusters(spark, sf_dir)  # doc_id → is_canonical
    quality = E._quality_score(spark, sf_dir).select("doc_id", "keep")
    c4 = E._c4_line_filter(spark, sf_dir).select("doc_id", "kept_doc")
    clf = E._quality_classifier(spark, sf_dir).select(
        "doc_id", F.col("kept").alias("clf_kept")
    )
    contam = E._contamination_ngrams(spark, sf_dir).select("doc_id", "flagged")

    sig = (
        d.withColumn("doc_hash", F.md5("text"))
        .join(exact.select("doc_hash", "canonical_doc_id"), "doc_hash")
        .join(clusters.select("doc_id", "is_canonical"), "doc_id", "left")
        .join(quality, "doc_id", "left")
        .join(c4, "doc_id", "left")
        .join(clf, "doc_id", "left")
        .join(contam, "doc_id", "left")
    )
    exact_ok = F.col("doc_id") == F.col("canonical_doc_id")
    # every gate fails CLOSED: _dedup_clusters/_quality_score/
    # _c4_line_filter emit a row for every document today, so the
    # defaults below are dead code — but if any op ever regressed to
    # partial coverage, the affected docs must drop out loudly, not
    # ship as training data
    near_ok = F.coalesce(F.col("is_canonical"), F.lit(False))
    qual_ok = F.coalesce(F.col("keep"), F.lit(False))
    c4_ok = F.coalesce(F.col("kept_doc"), F.lit(False))
    clf_ok = F.coalesce(F.col("clf_kept"), F.lit(False))
    # _contamination_ngrams scores CANDIDATE docs only: the held-out
    # benchmark slice itself has no row (flagged is null). Those are
    # eval documents — never train on them — so null is its own
    # rejection, not a pass-through
    clean = ~F.coalesce(F.col("flagged"), F.lit(True))
    reason = (
        F.when(~exact_ok, "exact_duplicate")
        .when(~near_ok, "near_duplicate")
        .when(~qual_ok, "low_quality")
        .when(~c4_ok, "c4_lines")
        .when(~clf_ok, "classifier_lowscore")
        .when(F.col("flagged").isNull(), "benchmark_doc")
        .when(~clean, "contaminated")
    )
    return sig.select(
        "doc_id",
        "lang",
        "source",
        (exact_ok & near_ok & qual_ok & c4_ok & clf_ok & clean).alias("kept"),
        reason.alias("reason"),
    )


def _signals_metrics(spark: SparkSession, sig_dir: str) -> dict:
    sig = spark.read.parquet(sig_dir)
    rejects = {
        r.reason: r.n
        for r in sig.where(~F.col("kept"))
        .groupBy("reason")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    return {
        "n_docs": sig.count(),
        "n_kept": sig.where("kept").count(),
        "rejects": rejects,
    }


def run_curation(spark: SparkSession, sf_dir: str, workdir: str) -> dict:
    """Run (or resume) the staged pipeline; returns the metrics dict.

    Crash-safe by construction: stage checkpoints are the source of
    truth (parquet _SUCCESS markers via the Hadoop FS, so hdfs://s3a://
    workdirs resume exactly like local ones); every metrics entry is
    re-DERIVED from its checkpoint when missing, and metrics.json is
    written atomically (tmp + rename) — a crash between a checkpoint
    commit and the metrics write costs only the stage's wall-time stamp,
    never the resume."""
    import __spark_entry__ as E

    metrics_path = os.path.join(workdir, "metrics.json")
    metrics: dict = _read_json(spark, metrics_path)

    sig_dir = os.path.join(workdir, "signals")
    if not _done(spark, sig_dir):
        t0 = time.time()
        keep_signals(spark, sf_dir).write.mode("overwrite").parquet(sig_dir)
        metrics["signals"] = {
            **_signals_metrics(spark, sig_dir),
            "sec": round(time.time() - t0, 2),
        }
        _write_json(spark, metrics_path, metrics)
    elif "signals" not in metrics:
        metrics["signals"] = _signals_metrics(spark, sig_dir)
        _write_json(spark, metrics_path, metrics)

    surv_dir = os.path.join(workdir, "survivors")
    surv_table = os.path.join(surv_dir, "documents.parquet")
    if not _done(spark, surv_table):
        t0 = time.time()
        d = E._t(spark, sf_dir, "documents")
        kept = spark.read.parquet(sig_dir).where("kept").select("doc_id")
        d.join(kept, "doc_id").write.mode("overwrite").parquet(surv_table)
        metrics["survivors"] = {
            "n_docs": spark.read.parquet(surv_table).count(),
            "sec": round(time.time() - t0, 2),
        }
        _write_json(spark, metrics_path, metrics)
    elif "survivors" not in metrics:
        metrics["survivors"] = {
            "n_docs": spark.read.parquet(surv_table).count()
        }
        _write_json(spark, metrics_path, metrics)

    man_dir = os.path.join(workdir, "manifest")
    if not _done(spark, man_dir):
        t0 = time.time()
        # later stages read the survivors checkpoint as their table dir,
        # so the oracled ops run verbatim over the filtered corpus
        mix = E._domain_mixture(spark, surv_dir).select(
            "lang", "source", "weight", "epochs"
        )
        shuf = E._corpus_shuffle(spark, surv_dir)
        pack = E._seq_pack(spark, surv_dir).select(
            "doc_id", "bucket", "pack_id", "seq_off", "n_tok"
        )
        d = E._t(spark, surv_dir, "documents").select("doc_id", "lang", "source")
        (
            d.join(F.broadcast(mix), ["lang", "source"])
            .join(shuf, "doc_id")
            .join(pack, "doc_id")
            .write.mode("overwrite")
            .parquet(man_dir)
        )
        metrics["manifest"] = {
            **_manifest_metrics(spark, man_dir),
            "sec": round(time.time() - t0, 2),
        }
        _write_json(spark, metrics_path, metrics)
    elif "manifest" not in metrics:
        metrics["manifest"] = _manifest_metrics(spark, man_dir)
        _write_json(spark, metrics_path, metrics)

    return metrics


def _manifest_metrics(spark: SparkSession, man_dir: str) -> dict:
    man = spark.read.parquet(man_dir)
    return {
        "n_docs": man.count(),
        "n_packs": man.select("bucket", "pack_id").distinct().count(),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True,
                    help="directory holding documents.parquet")
    ap.add_argument("--workdir", required=True,
                    help="checkpoint/metrics directory")
    ap.add_argument("--master", default=None)
    args = ap.parse_args()

    from kgforge.session import build_session

    spark = build_session(app="kgforge-curate", master=args.master)
    metrics = run_curation(spark, args.input, args.workdir)
    print(json.dumps(metrics))


if __name__ == "__main__":
    main()
