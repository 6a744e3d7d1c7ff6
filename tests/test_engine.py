"""End-to-end engine tests on the synthesized transcript fixture,
plus plan-shape assertions (pushdown / codegen / no-Python-UDF)."""

from __future__ import annotations

from pyspark.sql import functions as F

from satya_spark.engine import ValidationEngine
from satya_spark.spec import transcript_spec
from satya_spark.transcripts import synthesize, synthesize_tool_catalog


def test_engine_run_outputs(spark):
    eng = ValidationEngine(transcript_spec(), n_shards=8)
    df = synthesize(spark, n_conv=300)
    run = eng.run(df, catalogs={"tool_catalog": synthesize_tool_catalog(spark)})

    ann = run.annotated
    assert {"valid", "violations", "shard"}.issubset(set(ann.columns))

    verd = run.shard_verdicts.collect()
    assert {r["shard"] for r in verd} <= set(range(8))
    assert sum(r["n_rows"] for r in verd) == df.count()
    # planted violations exist -> some shard fails
    assert any(not r["passed"] for r in verd)

    viol = run.violations
    consts = {r["constraint_name"] for r in viol.collect()}
    assert "enum" in consts  # planted 'moderator'
    assert "min_length" in consts  # planted ''

    # planted dangling tool refs are caught
    refs = run.referential["tool"].collect()
    assert all(r["tool"] == "ghost_tool" for r in refs) and refs


def test_valid_rows_have_no_violations(spark):
    eng = ValidationEngine(transcript_spec())
    ann = eng.annotate(synthesize(spark, n_conv=100))
    bad = ann.filter(
        (F.col("valid") & (F.size("violations") > 0))
        | (~F.col("valid") & (F.size("violations") == 0))
    )
    assert bad.count() == 0


def test_row_kernel_plan_is_pure_codegen(spark):
    """The per-row validation stage must be one whole-stage-codegen'd
    scan: no shuffle (Exchange), no Python evaluation (BatchEvalPython
    / ArrowEvalPython) — satya's hot loop stays in the JVM."""
    eng = ValidationEngine(transcript_spec())
    df = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    # annotate a plain parquet-backed frame (shape is what matters)
    from satya_spark.transcripts import from_tpch

    ann = eng.annotate(from_tpch(spark, "/root/testdata/sf0.001"))
    ann.collect()  # finalize the AQE plan for THIS query execution
    plan = ann._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan  # no Python in the data plane
    assert "RLIKE" in plan  # regex kernels inlined as JVM expressions
    # the whole kernel stage is one fused Project over the scan
    assert plan.count("Project") >= 1 and "Exchange hashpartitioning" not in plan.split("Window")[0]


def test_drift_check_shapes(spark):
    eng = ValidationEngine(transcript_spec())
    a = synthesize(spark, n_conv=100)
    b = synthesize(spark, n_conv=100)
    out = eng.drift_check(a, b)
    assert abs(sum(r["psi_contrib"] for r in out["psi"].collect())) < 1e-6
    assert out["ks"].collect()[0]["ks_stat"] < 1e-9


def test_shard_verdicts_count_path_equals_array_path(spark):
    """The count-only fast path (pure integer sum of fail predicates,
    round 3) must agree exactly with the violations-array path used
    for annotate()d frames — including the per-row cap semantics."""
    from pyspark.sql import functions as F

    from satya_spark.spec import transcript_spec
    from satya_spark.transcripts import synthesize

    df = synthesize(spark, n_conv=400)
    eng = ValidationEngine(transcript_spec(), n_shards=16)
    fast = sorted(
        tuple(r) for r in eng.shard_verdicts(df).collect()
    )  # raw frame → count path
    slow = sorted(
        tuple(r) for r in eng.shard_verdicts(eng.annotate(df)).collect()
    )  # annotated frame → array path
    assert fast == slow


def test_enforce_raises_on_planted_violations(spark):
    """enforce() = the raising model_validate surface at table scope
    (src/satya/__init__.py:76-81): clean table passes through
    untouched, dirty table raises with bounded deterministic sample."""
    import pytest

    from satya_spark.engine import TableValidationError

    eng = ValidationEngine(transcript_spec())
    df = synthesize(spark, n_conv=120)  # has planted violations
    with pytest.raises(TableValidationError) as ei:
        eng.enforce(df, sample_n=7)
    err = ei.value
    assert 0 < err.n_invalid <= err.n_rows
    assert 0 < len(err.sample) <= 7
    assert {"field", "constraint_name", "offending_value"} <= set(err.sample[0])
    # message stays bounded and informative
    assert f"{err.n_invalid}/{err.n_rows}" in str(err)

    clean = df.filter(F.size(eng.compiled.violations_array_col()) == 0)
    out = eng.enforce(clean)
    assert out is clean  # valid input returned as-is (one count pass)


def test_write_split_one_pass_quarantine(spark, tmp_path):
    """write_split: ONE scan lands valid rows under valid=true and
    invalid rows (violations attached) under valid=false; read_split
    partition-prunes each side; counts reconcile with the verdicts."""
    from satya_spark.io import read_split

    eng = ValidationEngine(transcript_spec())
    df = synthesize(spark, n_conv=150)
    path = str(tmp_path / "split")
    sides = eng.write_split(df, path)
    assert sides["clean"].endswith("valid=true")

    clean = read_split(spark, path, "clean")
    quar = read_split(spark, path, "quarantine")
    n_clean, n_quar = clean.count(), quar.count()
    assert n_clean + n_quar == df.count()
    assert n_quar > 0  # planted violations
    # quarantined rows carry populated violations; clean rows empty
    assert quar.filter(F.size("violations") == 0).count() == 0
    assert clean.filter(F.size("violations") > 0).count() == 0

    # the read is partition-pruned: only one side's files are scanned
    quar.collect()
    plan = quar._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(valid" in plan or "valid#" in plan

    # all-valid input never creates the quarantine dir; empty, not error
    clean2_path = str(tmp_path / "split_clean")
    eng.write_split(clean.drop("valid", "violations"), clean2_path)
    assert read_split(spark, clean2_path, "quarantine").count() == 0


def test_kernel_columns_built_once_per_spark_context(spark, monkeypatch):
    """The composite kernel columns are memoized: repeated calls (and
    every engine consumer) share one build. Another active
    SparkContext (a stub standing in for a restarted session; the
    suite's session keeps running) triggers a rebuild."""
    from pyspark import SparkContext

    from satya_spark.compiler import CompiledSpec

    eng = ValidationEngine(transcript_spec(), n_shards=8)
    cs = eng.compiled
    builds = {"violations_array": 0, "violation_count": 0, "valid": 0}
    for name in builds:
        real = getattr(CompiledSpec, f"_{name}")

        def counted(self, real=real, name=name):
            builds[name] += 1
            return real(self)

        monkeypatch.setattr(CompiledSpec, f"_{name}", counted)

    arr, cnt, ok = cs.violations_array_col(), cs.violation_count_col(), cs.valid_col()
    assert cs.violations_array_col() is arr
    assert cs.violation_count_col() is cnt
    assert cs.valid_col() is ok
    df = synthesize(spark, n_conv=20)
    eng.shard_verdicts(eng.annotate(df))
    eng.shard_verdicts(df)
    eng.violations(df)
    eng.run(df)
    assert builds == {"violations_array": 1, "violation_count": 1, "valid": 1}

    sc = SparkContext._active_spark_context

    class _OtherContext:
        def __getattr__(self, attr):
            return getattr(sc, attr)

    monkeypatch.setattr(SparkContext, "_active_spark_context", _OtherContext())
    rebuilt = cs.violations_array_col()
    assert rebuilt is not arr and builds["violations_array"] == 2
    assert cs.violations_array_col() is rebuilt
    monkeypatch.setattr(SparkContext, "_active_spark_context", sc)
    assert cs.violations_array_col() is not rebuilt
    assert builds["violations_array"] == 3
