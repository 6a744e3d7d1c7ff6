"""CLI: the spark-submit-able product surface.

    python -m satya_spark validate \
        --input /data/transcripts.parquet [--format parquet|ndjson] \
        --schema schema.json            # JSON Schema (compiled to a spec)
        [--spec transcripts]            # or the built-in flagship spec
        --output /out                   # writes verdicts/ violations/
        [--manifest /out/manifest]      # enables checkpoint-resume
        [--shards 64] [--sample-per-shard N]
        [--quarantine]                  # also writes split/valid=true|false

With ``--quarantine`` the job makes ONE pass of the compiled kernels
over the input: the split write. Verdicts are aggregated from the
split's stored ``violations`` arrays (key column + array only), and
violation rows re-run the kernels over the quarantined rows alone.
Without it the job makes two passes, one for the verdicts (counts
only, no violations array) and one for the violation rows.
``--manifest`` keeps its own verdict pass.

On a cluster:  spark-submit --py-files satya_spark.zip -m ... is the
same entry point; locally it builds a session itself.

Exit code: 0 if every shard passed, 3 if violations were found
(pipeline-friendly), 2 on schema-policy errors.

    python -m satya_spark triage --input /data/t.parquet \
        [--sample-n 3] [--top-n 10] \
        [--drift-group role --drift-metric text]

prints one JSON report: per-constraint violation samples (two-phase
salted top-n), worst groups by violation count, optional per-group
PSI — every output driver-small by construction.
"""

from __future__ import annotations

import argparse
import json
import sys


def _build_spec(args):
    from .spec import transcript_spec
    from .spec_json import from_json_schema

    if args.schema:
        with open(args.schema) as f:
            return from_json_schema(json.load(f))
    if args.spec == "transcripts":
        return transcript_spec()
    raise SystemExit(f"unknown --spec {args.spec!r} and no --schema given")


def _input_fingerprint(path: str) -> str:
    """Cheap content identity for resume scoping. Local paths digest
    the sorted (name, size, mtime_ns, inode) listing ONLY — equivalent spellings
    (./data vs /abs/data) resume each other. Non-local URIs (s3a://,
    hdfs://, globs) have no cheap local stat, so the URI string itself
    is the identity — different remote datasets never share a
    fingerprint (same URI with mutated content is indistinguishable
    here; on Iceberg the snapshot id plays this role)."""
    import hashlib
    import os

    # st_mtime_ns + st_ino (not whole-second mtime): a file rewritten
    # in place with identical size within the same second must change
    # the fingerprint, or resume silently skips shards over changed
    # data (review r2)
    entries = []
    if os.path.isdir(path):
        for root, _, files in os.walk(path):
            for f in sorted(files):
                p = os.path.join(root, f)
                st = os.stat(p)
                entries.append(
                    f"{os.path.relpath(p, path)}:{st.st_size}"
                    f":{st.st_mtime_ns}:{st.st_ino}"
                )
    elif os.path.exists(path):
        st = os.stat(path)
        entries.append(
            f"{os.path.basename(path)}:{st.st_size}:{st.st_mtime_ns}:{st.st_ino}"
        )
    else:
        entries.append(f"uri:{path.rstrip('/')}")
    return hashlib.md5("\n".join(sorted(entries)).encode()).hexdigest()[:16]


def cmd_validate(args) -> int:
    from pyspark.sql import functions as F

    from .coerce import spark_type
    from .engine import ValidationEngine
    from .io import read_ref
    from .manifest import shard_col
    from .session import get_spark
    from .sources.json_source import read_ndjson

    spark = get_spark(app_name="satya-spark-cli")
    spec = _build_spec(args)
    spec.validate()
    eng = ValidationEngine(spec, n_shards=args.shards)

    if args.file_manifest:
        # append-only incremental mode: validate only files absent
        # from the file manifest (engine.run_incremental); exit code
        # mirrors the full mode
        summary = eng.run_incremental(spark, args.input, args.file_manifest)
        print(json.dumps(summary))
        return 0 if summary["passed"] else 3

    if args.format == "parquet":
        # read_ref: parquet path in the sandbox, Iceberg/catalog table
        # ref on a deployment with the runtime jar (io.iceberg_configs)
        df = read_ref(spark, args.input)
    else:
        from pyspark.sql import types as T

        fields = [
            T.StructField(f.name, T._parse_datatype_string(spark_type(f.dtype)))
            for f in spec.fields
            if "." not in f.name  # struct paths live inside parents
        ]
        df = read_ndjson(spark, args.input, T.StructType(fields)).drop("json_ok")

    schema_errors = eng.schema_violations(df)
    if schema_errors:
        print(json.dumps({"schema_violations": schema_errors}))
        if any(e["constraint"] == "extra_field" for e in schema_errors):
            return 2
    df = eng.conform(df)

    if args.coerce:
        from .coerce import coerce

        df = coerce(df, spec)

    sides = None
    src = df  # the frame violation rows come from
    if args.quarantine:
        # the split write is the job's ONE kernel pass; verdicts and
        # violations are derived from what it stored. Read back with
        # the annotated schema: a 0-row input writes no partition
        # directory, and schema inference then fails.
        split = f"{args.output}/split"
        sides = eng.write_split(df, split)
        stored = spark.read.schema(eng.annotate(df).drop("shard").schema).parquet(split)
        # the kernels re-run on the quarantined rows only, so violation
        # rows stay exact and uncapped (the stored array is capped at
        # MAX_VIOLATIONS_PER_ROW)
        src = stored.filter(~F.col("valid")).drop("violations", "valid")

    if args.manifest:
        verdicts = eng.run_resumable(
            df, args.manifest, fingerprint=_input_fingerprint(args.input)
        )
    elif args.quarantine:
        # the stored array already carries the per-row cap
        verdicts = eng.shard_verdicts(
            stored.select(
                shard_col(eng.n_shards, eng.shard_key).alias("shard"), "violations"
            )
        )
    else:
        verdicts = eng.shard_verdicts(df)
    verdicts.write.mode("overwrite").parquet(f"{args.output}/verdicts")

    if args.sample_per_shard:
        viol = eng.violations_sampled(src, per_shard_cap=args.sample_per_shard)
    else:
        viol = eng.violations(src)
    viol.write.mode("overwrite").parquet(f"{args.output}/violations")

    shards = (
        spark.read.parquet(f"{args.output}/verdicts")
        .select("n_rows", "n_invalid_rows")
        .collect()
    )
    n_rows = sum(int(r["n_rows"]) for r in shards)
    n_invalid = sum(int(r["n_invalid_rows"]) for r in shards)
    summary = {
        "rows": n_rows,
        "invalid_rows": n_invalid,
        "shards": len(shards),
        "output": args.output,
    }
    if sides is not None:
        summary["split"] = sides
    print(json.dumps(summary))
    return 0 if n_invalid == 0 else 3


def cmd_triage(args) -> int:
    """Bounded triage report over a validated table: per-constraint
    violation samples, worst conversations, per-group drift — the
    queries an operator runs when `validate` exits 3. Every output is
    driver-small by construction (samples are two-phase-salted
    top-n; drift is one grouped histogram)."""
    from pyspark.sql import functions as F

    from .crossrow import top_violating_groups, violations_sample
    from .drift import psi_by_group
    from .io import read_ref
    from .session import get_spark

    spark = get_spark(app_name="satya-spark-triage")
    spec = _build_spec(args)
    spec.validate()
    from .engine import ValidationEngine

    eng = ValidationEngine(spec)
    df = read_ref(spark, args.input)
    keys = list(spec.unique_key or (spec.fields[0].name,))
    viol = eng.violations(df)

    sample = violations_sample(viol, keys, n=args.sample_n).collect()
    worst = top_violating_groups(viol, keys[0], n=args.top_n).collect()
    report: dict = {
        "violation_sample": [r.asDict() for r in sample],
        "worst_groups": [r.asDict() for r in worst],
    }
    conv_cols = {"conv_id", "turn_idx", "role", "tool"}
    if conv_cols.issubset(set(df.columns)):
        # transcripts-shaped input: sequence-level structure summary
        # (one conv_id window; counts only, driver-small)
        from .convcheck import conversation_structure_violations

        struct = (
            conversation_structure_violations(df)
            .groupBy("constraint_name")
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy("constraint_name")
            .collect()
        )
        report["structure_violations"] = {
            r["constraint_name"]: r["n"] for r in struct
        }
    if args.drift_group and args.drift_metric:
        m = df.select(
            F.coalesce(F.col(args.drift_group).cast("string"), F.lit("<null>")).alias("g"),
            F.coalesce(
                F.length(args.drift_metric)
                if dict(df.dtypes).get(args.drift_metric) == "string"
                else F.col(args.drift_metric).cast("double"),
                F.lit(0),
            ).alias("m"),
        )
        psi = psi_by_group(m, "m", "g", args.drift_width, args.drift_buckets)
        report["group_psi"] = [r.asDict() for r in psi.collect()]
    print(json.dumps(report, default=str))
    return 0


def cmd_clean(args) -> int:
    """Training-data corpus hygiene, one job: PII redaction +
    quality/repetition filtering + optional exact dedup over a
    documents-shaped table. Kept rows (text REDACTED) go to
    <output>/kept, dropped rows with per-rule reasons to
    <output>/dropped, and one JSON summary line prints. Everything is
    JVM-side: regex kernels for PII, the distributed explode→
    partial-agg shape for repetition, a fingerprint window for dedup
    — no Python in the data plane."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from .functions import text as tx
    from .functions.pii import with_pii
    from .io import read_ref
    from .session import get_spark

    spark = get_spark(app_name="satya-spark-clean")
    idc, txt = args.id_col, args.text_col
    df = read_ref(spark, args.input)
    if args.c4_lines:
        # C4 line/page cleaning runs FIRST so every downstream signal
        # (repetition, PII, gopher) sees the cleaned text; pages the
        # C4 page rules drop keep their ORIGINAL text and surface in
        # <output>/dropped with a 'c4_page' reason (auditable drop,
        # same policy as --dedup)
        from .functions.lines import clean_lines

        cl = clean_lines(df, id_col=idc, text_col=txt).select(
            F.col(idc), F.col("text_clean").alias("__text_clean")
        )
        df = (
            df.join(cl, idc, "left")
            .withColumn("__c4_page_dropped", F.col("__text_clean").isNull())
            .withColumn(txt, F.coalesce("__text_clean", F.col(txt)))
            .drop("__text_clean")
        )
    sig = tx.with_repetition(df, text_col=txt, id_col=idc)
    d = df.join(sig, idc)
    d = with_pii(d, text_col=txt)

    empty = F.array().cast("array<string>")

    def _flag(cond, name):
        return F.when(cond, F.array(F.lit(name))).otherwise(empty)

    reasons = [
        _flag(F.col("n_tokens") < args.min_tokens, "too_short"),
        _flag(F.col("n_tokens") > args.max_tokens, "too_long"),
        _flag(
            F.coalesce(F.col("ttr"), F.lit(1.0)) < args.min_ttr, "low_ttr"
        ),
        _flag(
            F.coalesce(F.col("top_bigram_frac"), F.lit(0.0))
            > args.max_top_bigram,
            "repetitive",
        ),
    ]
    if args.c4_lines:
        reasons.append(_flag(F.col("__c4_page_dropped"), "c4_page"))
    if args.gopher:
        # Gopher Table-A1 batteries (functions/gopher.py): doc-local
        # quality composite + within-doc n-gram repetition composite
        from .functions.gopher import gopher_ngram_repetition, gopher_quality

        gq = gopher_quality(d, text_col=txt, id_col=idc).select(
            idc, "gopher_keep"
        )
        gr = gopher_ngram_repetition(d, text_col=txt, id_col=idc).select(
            idc, "rep_keep"
        )
        d = d.join(gq, idc).join(gr, idc)
        reasons.append(_flag(~F.col("gopher_keep"), "gopher_quality"))
        reasons.append(_flag(~F.col("rep_keep"), "gopher_repetition"))
    if args.drop_pii:
        reasons.append(_flag(F.col("pii_types") > 0, "pii"))
    if args.decontam_against:
        # benchmark decontamination: drop rows sharing >= min-hits
        # word-n-grams with the eval suite (functions/decontam.py);
        # the drop-list join key is the id column, the eval side is
        # broadcast inside contaminated_ids
        from .functions.decontam import contaminated_ids

        bench = spark.read.parquet(args.decontam_against)
        ids = contaminated_ids(
            df,
            bench,
            n=args.decontam_ngram,
            min_hits=args.decontam_min_hits,
            id_col=idc,
            text_col=txt,
            bench_text_col=args.decontam_text_col,
        ).withColumn("__contam", F.lit(True))
        d = d.join(ids, idc, "left")
        reasons.append(_flag(F.col("__contam"), "contaminated"))
    d = d.withColumn("drop_reasons", F.concat(*reasons))
    if args.dedup:
        # keep-first per normalized-text fingerprint; duplicates get a
        # reason instead of silently vanishing (auditable drop)
        w = Window.partitionBy(tx.fingerprint(F.col(txt))).orderBy(idc)
        d = d.withColumn(
            "drop_reasons",
            F.when(
                F.row_number().over(w) > 1,
                F.concat(F.col("drop_reasons"), F.array(F.lit("duplicate"))),
            ).otherwise(F.col("drop_reasons")),
        )
    if args.near_dedup:
        # MinHash-LSH pairs -> connected components. Pairs scan the
        # post-C4 (id, text) projection, NOT the fully-annotated
        # frame: the hygiene signals are 1:1 per doc so the pair set
        # is identical, and the repetition/PII/gopher stages don't
        # execute a second time under dup_clusters' edge checkpoint.
        # Banding stays the library's recall-first default so the
        # --near-dedup-threshold flag means what it says (the tight
        # bands=2 config trades recall for cost; see BENCH.md).
        from .functions.dedup import dup_clusters, minhash_dedup_pairs

        pairs = minhash_dedup_pairs(
            df.select(idc, txt),
            threshold=args.near_dedup_threshold,
            id_col=idc,
            text_col=txt,
        )
        clusters = dup_clusters(pairs)
        # the kept copy must be one the OTHER rules keep: blindly
        # taking the min id can hand the cluster to a row already
        # dropped (e.g. too_long), deleting every copy of the content
        # localCheckpoint pins the annotation pipeline to ONE run:
        # without it this projection re-enters the output plan via the
        # losers join below, and the hygiene subtree (repetition
        # explode, PII regexes, gopher) executes twice per action
        # (ADVICE r5). Fixed-width (id, bool) rows — cheap at any scale.
        ok = d.select(
            F.col(idc).alias("doc_id"),
            (F.size("drop_reasons") == 0).alias("__ok"),
        ).localCheckpoint()
        cl = clusters.join(ok, "doc_id")
        canon = cl.groupBy("cluster_id").agg(
            F.min(F.when(F.col("__ok"), F.col("doc_id"))).alias("__canon")
        )
        losers = (
            cl.join(canon, "cluster_id")
            .filter(
                F.col("__ok")
                & F.col("__canon").isNotNull()
                & (F.col("doc_id") != F.col("__canon"))
            )
            .select(F.col("doc_id").alias(idc))
            .withColumn("__neardup", F.lit(True))
        )
        d = d.join(losers, idc, "left")
        d = d.withColumn(
            "drop_reasons",
            F.when(
                F.col("__neardup"),
                F.concat(F.col("drop_reasons"), F.array(F.lit("near_duplicate"))),
            ).otherwise(F.col("drop_reasons")),
        )
    keep = F.size("drop_reasons") == 0
    helper_cols = [
        "n_tokens", "n_distinct", "ttr", "top_bigram_count",
        "top_bigram_frac", "pii_email", "pii_ssn", "pii_phone", "pii_ipv4",
        "pii_types", "text_redacted", "__contam",  # drop() ignores absents
        "__c4_page_dropped", "gopher_keep", "rep_keep", "__neardup",
    ]
    kept = (
        d.filter(keep)
        .withColumn(txt, F.col("text_redacted"))  # redacted text ships
        .drop("drop_reasons", *helper_cols)
    )
    dropped = d.filter(~keep).drop(*helper_cols)
    kept.write.mode("overwrite").parquet(f"{args.output}/kept")
    dropped.write.mode("overwrite").parquet(f"{args.output}/dropped")
    n_in = df.count()
    n_kept = spark.read.parquet(f"{args.output}/kept").count()
    print(
        json.dumps(
            {
                "rows_in": n_in,
                "rows_kept": n_kept,
                "rows_dropped": n_in - n_kept,
                "kept_path": f"{args.output}/kept",
                "dropped_path": f"{args.output}/dropped",
            }
        )
    )
    return 0


def main(argv=None) -> int:
    p = argparse.ArgumentParser(prog="satya_spark")
    sub = p.add_subparsers(dest="cmd", required=True)
    v = sub.add_parser("validate", help="validate a table against a spec")
    v.add_argument("--input", required=True)
    v.add_argument("--format", choices=["parquet", "ndjson"], default="parquet")
    v.add_argument("--schema", help="JSON Schema file (compiled to a spec)")
    v.add_argument("--spec", default="transcripts", help="built-in spec name")
    v.add_argument("--output", required=True)
    v.add_argument("--manifest", help="manifest dir (enables resume)")
    v.add_argument(
        "--file-manifest",
        help="file-manifest dir: append-only incremental mode — "
        "validate only new/changed parquet files (skips --output)",
    )
    v.add_argument("--shards", type=int, default=64)
    v.add_argument("--sample-per-shard", type=int, default=0)
    v.add_argument("--coerce", action="store_true", help="coercion mode")
    v.add_argument(
        "--quarantine",
        action="store_true",
        help="also write a one-pass verdict-partitioned split: clean rows "
        "to <output>/split/valid=true, invalid rows (violations attached) "
        "to <output>/split/valid=false",
    )
    t = sub.add_parser(
        "triage", help="bounded violation/drift report for a table"
    )
    t.add_argument("--input", required=True)
    t.add_argument("--schema", help="JSON Schema file (compiled to a spec)")
    t.add_argument("--spec", default="transcripts", help="built-in spec name")
    t.add_argument("--sample-n", type=int, default=3)
    t.add_argument("--top-n", type=int, default=10)
    t.add_argument("--drift-group", help="column to group drift by (e.g. role)")
    t.add_argument(
        "--drift-metric",
        help="metric column (string cols use their length)",
    )
    t.add_argument("--drift-width", type=float, default=200.0)
    t.add_argument("--drift-buckets", type=int, default=20)
    c = sub.add_parser(
        "clean",
        help="corpus hygiene: PII redaction + quality/repetition"
        " filter + optional exact dedup",
    )
    c.add_argument("--input", required=True)
    c.add_argument("--output", required=True)
    c.add_argument("--id-col", default="doc_id")
    c.add_argument("--text-col", default="text")
    c.add_argument("--min-tokens", type=int, default=5)
    c.add_argument("--max-tokens", type=int, default=1_000_000)
    c.add_argument("--min-ttr", type=float, default=0.1)
    c.add_argument("--max-top-bigram", type=float, default=0.5)
    c.add_argument(
        "--drop-pii",
        action="store_true",
        help="drop PII-bearing rows entirely instead of redacting",
    )
    c.add_argument(
        "--dedup",
        action="store_true",
        help="exact dedup on the normalized-text fingerprint (keep-first)",
    )
    c.add_argument(
        "--near-dedup",
        action="store_true",
        help="near dedup: MinHash-LSH pairs -> connected components,"
        " keep the min-id doc per cluster that passes the other rules"
        " ('near_duplicate' reason)",
    )
    c.add_argument(
        "--near-dedup-threshold",
        type=float,
        default=0.6,
        help="token-set Jaccard threshold for --near-dedup",
    )
    c.add_argument(
        "--c4-lines",
        action="store_true",
        help="C4 line/page cleaning first: per-line terminal-punct/"
        "min-words/javascript filter rewrites the text; pages failing "
        "the page rules drop with a 'c4_page' reason",
    )
    c.add_argument(
        "--gopher",
        action="store_true",
        help="Gopher Table-A1 filters: quality-signal composite "
        "('gopher_quality' reason) + n-gram repetition composite "
        "('gopher_repetition' reason)",
    )
    c.add_argument(
        "--decontam-against",
        help="parquet eval-suite path: drop rows sharing word n-grams "
        "with it (benchmark decontamination)",
    )
    c.add_argument("--decontam-ngram", type=int, default=8)
    c.add_argument("--decontam-min-hits", type=int, default=1)
    c.add_argument("--decontam-text-col", default="text")
    args = p.parse_args(argv)
    if args.cmd == "validate":
        return cmd_validate(args)
    if args.cmd == "triage":
        return cmd_triage(args)
    if args.cmd == "clean":
        return cmd_clean(args)
    return 1


if __name__ == "__main__":
    sys.exit(main())
