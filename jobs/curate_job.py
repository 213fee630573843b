#!/usr/bin/env python
"""spark-submit entrypoint: documents table → curated training corpus.

The cluster deployment shape for the TDP (training-data-pipeline) tier —
the same ``--py-files`` contract as ``extract_job.py`` but driving the
curation operators instead of table extraction::

    spark-submit --py-files dist/camelot_spark.zip jobs/curate_job.py \
        --input  /data/documents           # parquet dir or Iceberg table \
        --output /data/curated             # snapshot-logged parquet dir \
        --steps quality,dedup_exact,strip_substr,sample \
        --min-quality 400 --substr-k 40 \
        --sample-rates en=1000000,fr=500000

Steps compose left-to-right over the documents DataFrame; every run
commits ONE snapshot to the output's SnapshotLog (resumable, auditable
chain — the same checkpoint semantics as the extraction job). Step
catalog:

- ``quality``      drop docs below ``--min-quality`` (integer score
                   x100 from tdp.text.quality_score);
- ``dedup_exact``  keep the first copy of each exact-duplicate text;
- ``dedup_near``   drop non-canonical docs of each near-dup group:
                   MinHash-LSH candidates, exact-Jaccard-verified at
                   ``--near-threshold``/10000, grouped by min-label
                   propagation run to its fixpoint
                   (tdp.dedup.dedup_groups);
- ``strip_substr`` cut corpus-wide duplicate substring regions out of
                   the surviving text (tdp.substr_dedup);
- ``boilerplate``  strike per-source high-document-frequency n-grams
                   from every doc of the source — the C4 "same line
                   on most pages of a site" filter
                   (tdp.text.boilerplate_strip,
                   ``--boilerplate-ratio-ppm``);
- ``ppl_mix``      keep head/middle/tail LM-surprisal tertiles at
                   ``--ppl-rates`` ppm (CCNet perplexity mixing,
                   tdp.sampling.perplexity_bucket_mix); docs with no
                   bigrams PASS THROUGH unmixed;
- ``decontaminate`` drop docs overlapping the benchmark n-gram set;
- ``classifier``   learned quality gate: train the integer Rocchio
                   model on the surviving corpus (stopword-ratio weak
                   labels, tdp.perceptron) and keep docs predicted
                   fluent — the CCNet-style classifier-filter step;
- ``sample``       deterministic per-lang keep rates (integer ppm);
- ``split``        annotate each surviving doc with its deterministic
                   growth-stable train/val/test bucket (pure
                   projection; ``--train-ppm``/``--val-ppm``;
                   ``--split-id-col`` hashes a different id column —
                   pass a near-dup canonical id so every member of a
                   dup cluster lands in ONE split, the leakage control
                   ``tdp.sampling.dataset_split`` documents).
"""

from __future__ import annotations

import argparse
import json
import sys


def parse_rates(spec: str) -> dict[str, int]:
    """"en=250000,fr=500000" → {"en": 250000, "fr": 500000}."""
    out: dict[str, int] = {}
    for part in spec.split(","):
        if not part:
            continue
        key, _, val = part.partition("=")
        out[key] = int(val)
    return out


def apply_steps(spark, docs, args):
    """Compose the requested curation steps; returns (df, report)."""
    from pyspark.sql import functions as F

    report: list[dict] = []

    def note(step, df):
        # checkpoint each step boundary: the audit count and every later
        # step (and the final write) read the materialized result instead
        # of re-executing all prior steps' subtrees per action
        df = df.localCheckpoint(eager=True)
        report.append({"step": step, "docs": df.count()})
        return df

    docs = note("input", docs)
    for step in args.steps.split(","):
        if step == "quality":
            from camelot_spark.tdp.text import quality_score

            keep = quality_score(docs).where(
                F.col("quality_x100") >= args.min_quality).select("doc_id")
            docs = docs.join(keep, "doc_id", "left_semi")
        elif step == "dedup_exact":
            # the library operator's composite (~96-bit) group key — a
            # bare xxhash64 would silently merge colliding docs at scale
            from camelot_spark.tdp.dedup import dedup_keep_first

            keep = dedup_keep_first(docs).select(
                F.col("keep_id").alias("doc_id"))
            docs = docs.join(keep, "doc_id", "left_semi")
        elif step == "dedup_near":
            from camelot_spark.tdp.dedup import dedup_groups

            # this step DELETES non-canonical docs, so raw LSH candidate
            # pairs are not enough: a banding false positive would drop a
            # non-duplicate training document. Verify candidates with
            # exact n-gram Jaccard (>= --near-threshold/10000) before
            # grouping; --near-threshold 0 opts out explicitly.
            groups = dedup_groups(
                docs, verify_threshold_x10k=(args.near_threshold or None))
            canon = groups.where(F.col("is_canonical") == 1).select("doc_id")
            # docs never seen in any near-dup group pass through
            docs = docs.join(groups.select("doc_id"), "doc_id", "left_anti") \
                .unionByName(docs.join(canon, "doc_id", "left_semi"))
        elif step == "strip_substr":
            from camelot_spark.tdp.substr_dedup import strip_duplicate_substrings

            cleaned = strip_duplicate_substrings(docs, k=args.substr_k)
            docs = (docs.drop("text")
                    .join(cleaned.select("doc_id",
                                         F.col("clean_text").alias("text")),
                          "doc_id"))
        elif step == "boilerplate":
            from camelot_spark.tdp.text import boilerplate_strip

            cleaned = boilerplate_strip(
                docs, min_ratio_ppm=args.boilerplate_ratio_ppm)
            docs = (docs.drop("text")
                    .join(cleaned.select("doc_id",
                                         F.col("clean_text").alias("text")),
                          "doc_id"))
        elif step == "ppl_mix":
            from camelot_spark.tdp.sampling import perplexity_bucket_mix

            head, middle, tail = (int(x) for x in args.ppl_rates.split(","))
            mixed = perplexity_bucket_mix(
                docs, head_ppm=head, middle_ppm=middle, tail_ppm=tail)
            # no-bigram docs have no bucket — pass through (the
            # classifier step's no-prediction discipline), so only
            # docs the mixer DECIDED to drop are dropped
            drop = mixed.where(F.col("kept") == 0).select("doc_id")
            docs = docs.join(drop, "doc_id", "left_anti")
        elif step == "decontaminate":
            from camelot_spark.tdp.contamination import decontaminate

            clean_ids = decontaminate(docs).where(
                F.col("contaminated") == 0).select("doc_id")
            docs = docs.join(clean_ids, "doc_id", "left_semi")
        elif step == "classifier":
            # learned quality gate: train the integer Rocchio model on
            # the surviving corpus (weak stopword-ratio labels) and
            # DROP docs it predicts non-fluent — the CCNet-style
            # classifier-filter step, one broadcast-size model.
            # Two destructive-filter guards:
            # - one-class corpora (e.g. non-English text where the
            #   English-stopword weak label never fires) would train a
            #   degenerate centroid that mass-drops everything — the
            #   step SKIPS with a report note instead (2-row collect);
            # - docs with no prediction row (no tokens after earlier
            #   steps) PASS THROUGH via anti-join on the drop set —
            #   the classifier never decided on them, so it must not
            #   delete them (the dedup_near pass-through discipline).
            from camelot_spark.tdp.perceptron import _checkpointed, _predictions_from

            feats, labels = _checkpointed(docs)
            classes = {r["y"] for r in
                       labels.select("y").distinct().collect()}
            if classes == {1, -1}:
                drop = _predictions_from(spark, feats, labels).where(
                    F.col("pred") == -1).select("doc_id")
                docs = docs.join(drop, "doc_id", "left_anti")
            else:
                report.append({"step": "classifier_skipped_one_class",
                               "docs": -1})
        elif step == "sample":
            from camelot_spark.tdp.sampling import stratified_sample

            kept = stratified_sample(docs, rates=parse_rates(args.sample_rates),
                                     strata_col=args.strata_col)
            docs = docs.join(kept.select("doc_id"), "doc_id", "left_semi")
        elif step == "split":
            # annotate (never filter): the deterministic growth-stable
            # train/val/test bucket, computed in place — no join back
            from camelot_spark.tdp.sampling import split_expr

            docs = docs.withColumn(
                "split",
                split_expr(args.split_id_col, args.train_ppm, args.val_ppm))
        else:
            raise SystemExit(f"unknown step {step!r}")
        docs = note(step, docs)
    return docs, report


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True,
                    help="snapshot-logged parquet dir (one commit per run)")
    ap.add_argument("--steps", default="quality,dedup_exact,sample")
    ap.add_argument("--min-quality", type=int, default=300)
    ap.add_argument("--substr-k", type=int, default=40)
    ap.add_argument("--near-threshold", type=int, default=7000,
                    metavar="JACCARD_X10K",
                    help="dedup_near: exact-Jaccard verification floor for "
                         "LSH candidate pairs (x10000; 0 = trust raw LSH "
                         "candidates, accepting banding false positives)")
    ap.add_argument("--sample-rates", default="", metavar="LANG=PPM,...")
    ap.add_argument("--strata-col", default="lang")
    ap.add_argument("--train-ppm", type=int, default=800_000)
    ap.add_argument("--val-ppm", type=int, default=100_000)
    ap.add_argument("--boilerplate-ratio-ppm", type=int, default=500_000,
                    help="boilerplate: strike n-grams present in >= this "
                         "fraction (ppm) of a source's docs")
    ap.add_argument("--ppl-rates", default="1000000,500000,100000",
                    metavar="HEAD,MIDDLE,TAIL",
                    help="ppl_mix: per-tertile keep rates in ppm")
    ap.add_argument("--split-id-col", default="doc_id",
                    help="split: column hashed into the bucket; pass a "
                         "canonical near-dup group id to keep whole dup "
                         "clusters in one split (leakage control)")
    ap.add_argument("--shards-output", default="",
                    help="also materialize the curated corpus as "
                         "deterministic training shards (one dir per "
                         "shard, order_key-sorted within)")
    ap.add_argument("--n-shards", type=int, default=64)
    ap.add_argument("--shard-epoch", type=int, default=0,
                    help="re-salt the shard/order assignment for this "
                         "training epoch (deterministic per epoch)")
    return ap.parse_args(argv)


def main(argv: list[str]) -> int:
    args = parse_args(argv)

    from camelot_spark.pipeline import job_session, load_documents
    from camelot_spark.snapshots import SnapshotLog

    spark = job_session("camelot-spark-curate")
    docs = load_documents(spark, args.input)
    curated, report = apply_steps(spark, docs, args)
    manifest = SnapshotLog(args.output).append(
        curated, metrics={"steps": report})
    if args.shards_output:
        from camelot_spark.sinks import write_training_shards

        # read the just-committed snapshot back so the shard exchange
        # starts from materialized parquet, not a re-execution of the
        # whole curation subtree
        write_training_shards(
            SnapshotLog(args.output).read(spark), args.shards_output,
            n_shards=args.n_shards,
            epoch=args.shard_epoch)
    print(json.dumps({"status": "ok", "snapshot_id": manifest["snapshot_id"],
                      "version": manifest["version"], "steps": report}))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
