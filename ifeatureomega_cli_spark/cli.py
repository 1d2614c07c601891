"""CLI entry point — runnable via ``spark-submit --py-files ifos.zip cli.py``
or ``python -m ifeatureomega_cli_spark.cli`` locally.

Subcommands:
  extract   tokenized parquet (or FASTA) → features parquet
  asof      point-in-time join of a requests table onto a revisions table
  sessions  sessionize an event table
  checkpoint-extract   extract with bucketed checkpoint/resume + lineage

Examples:
  spark-submit --py-files dist/ifeatureomega_cli_spark.zip \\
      dist/cli.py extract --input s3://bucket/tokens --descriptor protein:AAC \\
      --output s3://bucket/features
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def _spark(args):
    from ifeatureomega_cli_spark.session import get_spark

    return get_spark(app_name=f"ifos-{args.cmd}",
                     master=args.master) if args.master else get_spark(
        app_name=f"ifos-{args.cmd}")


def cmd_extract(args) -> int:
    from pyspark.sql import functions as F

    spark = _spark(args)
    if args.fasta:
        from ifeatureomega_cli_spark.sources.fasta import read_fasta

        df = read_fasta(spark, args.input)
    else:
        df = spark.read.parquet(args.input)
    from ifeatureomega_cli_spark.functions.extract import extract

    params = json.loads(args.params) if args.params else None
    t0 = time.time()
    out = extract(df, args.descriptor, params)
    out.write.mode("overwrite").parquet(args.output)
    n = spark.read.parquet(args.output).count()
    seconds = round(time.time() - t0, 2)
    # --repeat: re-run the extract+write to steady state and report the
    # LAST timing too — first-run numbers under spark-submit include
    # executor registration + python-worker cold spawn, which is exactly
    # what a scaling A/B must exclude
    last = seconds
    for _ in range(max(0, args.repeat - 1)):
        t0 = time.time()
        extract(df, args.descriptor, params).write.mode(
            "overwrite").parquet(args.output)
        last = round(time.time() - t0, 2)
    print(json.dumps({"rows": n, "seconds": seconds,
                      "steady_seconds": last,
                      "descriptor": args.descriptor,
                      "output": args.output}))
    return 0


def cmd_checkpoint_extract(args) -> int:
    spark = _spark(args)
    df = spark.read.parquet(args.input)
    from ifeatureomega_cli_spark.functions.extract import extract
    from ifeatureomega_cli_spark.plans.checkpoint import CheckpointedRun, emit_metrics

    run = CheckpointedRun(spark, args.output, n_buckets=args.buckets)
    metrics = run.run(df, lambda part: extract(part, args.descriptor))
    emit_metrics(args.output + "/metrics.jsonl", metrics)
    print(json.dumps(metrics))
    return 0


def cmd_asof(args) -> int:
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    spark = _spark(args)
    from ifeatureomega_cli_spark.operators.asof import asof_join

    left = spark.read.parquet(args.left)
    right = spark.read.parquet(args.right)
    out = asof_join(left, right, on=args.on, ts=args.ts)
    obs = Observation()
    (out.observe(obs, F.count(F.lit(1)).alias("rows"))
     .write.mode("overwrite").parquet(args.output))
    print(json.dumps({"rows": obs.get["rows"]}))
    return 0


def cmd_sessions(args) -> int:
    spark = _spark(args)
    from ifeatureomega_cli_spark.operators.sessionize import session_stats

    ev = spark.read.parquet(args.input)
    out = session_stats(ev, args.gap, on=args.on, ts=args.ts)
    out.write.mode("overwrite").parquet(args.output)
    print(json.dumps({"sessions": spark.read.parquet(args.output).count()}))
    return 0


_ANALYZE_OPS = ("kmeans", "minibatch_kmeans", "gaussian_mixture",
                "agglomerative", "spectral", "hcluster", "dbscan",
                "affinity_propagation", "meanshift", "mcl",
                "pca", "tsne", "lda", "zscore", "minmax", "impute")


def cmd_analyze(args) -> int:
    """iAnalysis over a features parquet: cluster / reduce / normalize."""
    spark = _spark(args)
    from ifeatureomega_cli_spark import analysis as A

    df = spark.read.parquet(args.input)
    op = args.op
    k = args.k
    if op == "kmeans":
        out = A.kmeans(df, k)
    elif op == "minibatch_kmeans":
        out = A.minibatch_kmeans(df, k)
    elif op == "gaussian_mixture":
        out = A.gaussian_mixture(df, k)
    elif op == "agglomerative":
        out = A.agglomerative(df, n_clusters=k)
    elif op == "spectral":
        out = A.spectral(df, n_clusters=k)
    elif op == "hcluster":
        out = A.hcluster(df)
    elif op == "dbscan":
        out = A.dbscan(df)
    elif op == "affinity_propagation":
        out = A.affinity_propagation(df)
    elif op == "meanshift":
        out = A.meanshift(df)
    elif op == "mcl":
        out = A.mcl(df)
    elif op == "pca":
        out = A.pca(df, k)
    elif op == "tsne":
        out = A.tsne(df, k)
    elif op == "lda":
        out = A.lda_reduce(df, k)
    elif op == "zscore":
        out = A.zscore_ref(df)
    elif op == "minmax":
        out = A.minmax_ref(df)
    else:  # impute
        out = A.impute_mean(df)
    out.write.mode("overwrite").parquet(args.output)
    print(json.dumps({"op": op,
                      "rows": spark.read.parquet(args.output).count()}))
    return 0


def cmd_dedup(args) -> int:
    """Training-data dedup over a documents parquet."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    spark = _spark(args)
    from ifeatureomega_cli_spark.operators import dedup as D

    df = spark.read.parquet(args.input)
    if args.method == "exact":
        out = D.exact_dedup(df, normalize=args.normalize)
    elif args.method == "minhash":
        out = D.minhash_dedup(df, threshold=args.threshold)
    elif args.method == "simhash":
        out = D.simhash_dup_pairs(df)
    elif args.method == "resolve":
        # end-to-end: minhash pairs → connected components → keepers only
        out = D.near_dedup(df, threshold=args.threshold)
    else:  # jaccard
        out = D.ngram_jaccard_pairs(df, threshold=args.threshold)
    obs = Observation()
    (out.observe(obs, F.count(F.lit(1)).alias("rows"))
     .write.mode("overwrite").parquet(args.output))
    print(json.dumps({"method": args.method, "rows": obs.get["rows"]}))
    return 0


def cmd_ligand(args) -> int:
    """Ligand descriptors over a one-SMILES-per-line file (ref iLigand;
    the twelve graph-computable families run real RDKit-free chemistry —
    round 6; the RDKit-gated numeric families need --allow-stub here)."""
    spark = _spark(args)
    from ifeatureomega_cli_spark import structure_ligand as SL
    from ifeatureomega_cli_spark.operators.ligand import read_smiles

    mols = read_smiles(spark, args.input)
    t0 = time.time()
    out = SL.ligand_descriptor(mols, args.family,
                               **({"allow_stub": True}
                                  if args.allow_stub else {}))
    out.write.mode("overwrite").parquet(args.output)
    res = spark.read.parquet(args.output)
    print(json.dumps({
        "family": args.family,
        "rows": res.count(),
        "valid": res.filter("valid").count(),
        "seconds": round(time.time() - t0, 2)}))
    return 0


def cmd_structure(args) -> int:
    """Structure descriptors over one PDB/mmCIF file or a glob of many
    (ref iStructure.get_descriptor; geometry types only — SS*/depth need
    DSSP/MSMS binaries and raise with a citation)."""
    spark = _spark(args)
    from ifeatureomega_cli_spark.api import StructureDataset

    st = StructureDataset(spark, args.input)
    if args.params_file:
        st.import_parameters(args.params_file)
    params = json.loads(args.params) if args.params else None
    t0 = time.time()
    out = st.get_descriptor(args.descriptor, params)
    out.write.mode("overwrite").parquet(args.output)
    print(json.dumps({"descriptor": args.descriptor,
                      "rows": spark.read.parquet(args.output).count(),
                      "seconds": round(time.time() - t0, 2)}))
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(prog="ifeatureomega-cli-spark")
    ap.add_argument("--master", default=None)
    sub = ap.add_subparsers(dest="cmd", required=True)

    p = sub.add_parser("extract")
    p.add_argument("--input", required=True)
    p.add_argument("--descriptor", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--params", default=None, help="JSON dict of parameters")
    p.add_argument("--fasta", action="store_true")
    p.add_argument("--repeat", type=int, default=1,
                   help="re-run the extract to steady state; report last")
    p.set_defaults(fn=cmd_extract)

    p = sub.add_parser("checkpoint-extract")
    p.add_argument("--input", required=True)
    p.add_argument("--descriptor", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--buckets", type=int, default=16)
    p.set_defaults(fn=cmd_checkpoint_extract)

    p = sub.add_parser("asof")
    p.add_argument("--left", required=True)
    p.add_argument("--right", required=True)
    p.add_argument("--on", default="doc_id")
    p.add_argument("--ts", default="ts")
    p.add_argument("--output", required=True)
    p.set_defaults(fn=cmd_asof)

    p = sub.add_parser("sessions")
    p.add_argument("--input", required=True)
    p.add_argument("--gap", type=float, default=1800.0)
    p.add_argument("--on", default="user_id")
    p.add_argument("--ts", default="ts")
    p.add_argument("--output", required=True)
    p.set_defaults(fn=cmd_sessions)

    p = sub.add_parser("analyze")
    p.add_argument("--input", required=True, help="features parquet")
    p.add_argument("--op", required=True, choices=_ANALYZE_OPS)
    p.add_argument("--k", type=int, default=2,
                   help="clusters / components where applicable")
    p.add_argument("--output", required=True)
    p.set_defaults(fn=cmd_analyze)

    p = sub.add_parser("dedup")
    p.add_argument("--input", required=True, help="documents parquet")
    p.add_argument("--method", default="exact",
                   choices=("exact", "minhash", "simhash", "jaccard",
                            "resolve"))
    p.add_argument("--threshold", type=float, default=0.8)
    p.add_argument("--normalize", action="store_true")
    p.add_argument("--output", required=True)
    p.set_defaults(fn=cmd_dedup)

    p = sub.add_parser("ligand")
    p.add_argument("--input", required=True,
                   help="one SMILES per line (the reference's format)")
    p.add_argument("--family", default="Constitution")
    p.add_argument("--allow-stub", action="store_true",
                   help="run the deterministic stub for RDKit-gated "
                        "numeric families")
    p.add_argument("--output", required=True)
    p.set_defaults(fn=cmd_ligand)

    p = sub.add_parser("structure")
    p.add_argument("--input", required=True,
                   help="a .pdb/.cif file or a directory/glob of them")
    p.add_argument("--descriptor", default="AAC_type1")
    p.add_argument("--params", default=None, help="inline JSON overrides")
    p.add_argument("--params-file", default=None,
                   help="reference Structure_parameters_setting.json")
    p.add_argument("--output", required=True)
    p.set_defaults(fn=cmd_structure)

    args = ap.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
