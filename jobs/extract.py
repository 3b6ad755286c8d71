"""spark-submit entry point for the full extraction pipeline.

Cluster usage (the north rule's deployment shape):

    zip -r kgforge.zip kgforge
    spark-submit --master <cluster> --py-files kgforge.zip \\
        jobs/extract.py --input <corpus parquet/iceberg path> \\
        --workdir <checkpoint dir> [--ntriples <dump dir>] \\
        [--synthetic N]

The job is resumable: rerunning with the same --workdir skips completed
stages (per-stage parquet checkpoints + _lineage rows). The N-Triples dump
holds the ``graph`` stage and the ``per_page`` stage (nif_*,
long_abstracts, cited_facts, french_population). With --synthetic N
the deterministic corpus generator supplies the input (bench/CI mode).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", help="corpus table path (repo,path,commit,lang,content)")
    ap.add_argument("--synthetic", type=int, default=0, help="generate N synthetic pages instead")
    ap.add_argument("--workdir", required=True, help="checkpoint/lineage directory")
    ap.add_argument("--ntriples", help="also export N-Triples dumps here")
    ap.add_argument("--wikidata-input",
                    help="optional second corpus of Wikidata entity-JSON pages "
                         "(items/properties/lexemes) routed through the full "
                         "wikidata extractor group as its own resumable stage")
    ap.add_argument("--fmt", default="parquet", choices=["parquet", "iceberg"],
                    help="stage/table format (iceberg falls back to parquet without the jar)")
    ap.add_argument("--master", default=None)
    args = ap.parse_args()

    from kgforge import corpus as C
    from kgforge.emit import write_ntriples
    from kgforge.pipeline import Pipeline
    from kgforge.session import build_session

    spark = build_session(app="kgforge-extract", master=args.master)
    if args.synthetic:
        corpus = C.generate_corpus_df(spark, args.synthetic)
    elif args.input:
        corpus = spark.read.parquet(args.input)
    else:
        ap.error("need --input or --synthetic")

    wd_corpus = spark.read.parquet(args.wikidata_input) if args.wikidata_input else None
    t0 = time.time()
    p = Pipeline(spark, args.workdir, fmt=args.fmt)
    graph = p.run(corpus, wikidata_corpus=wd_corpus)
    n = graph.count()
    if args.ntriples:
        write_ntriples(graph.unionByName(p.per_page), args.ntriples)
    print(json.dumps({"quads": n, "wall_sec": round(time.time() - t0, 2), "workdir": args.workdir}))


if __name__ == "__main__":
    main()
