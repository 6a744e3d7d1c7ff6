"""CLI surface: python -m satya_spark validate — fresh-interpreter
end-to-end runs (parquet + ndjson + JSON-schema spec + resume)."""

from __future__ import annotations

import json
import os
import subprocess
import sys

from pyspark.sql import functions as F

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _cli(*argv, timeout=600):
    env = dict(os.environ, PYTHONPATH=REPO)
    return subprocess.run(
        [sys.executable, "-m", "satya_spark", *argv],
        capture_output=True,
        text=True,
        cwd=REPO,
        env=env,
        timeout=timeout,
    )


def test_cli_validate_parquet(spark, tmp_path):
    from satya_spark.transcripts import synthesize

    inp = str(tmp_path / "in.parquet")
    synthesize(spark, 300).write.parquet(inp)
    out = str(tmp_path / "out")
    r = _cli("validate", "--input", inp, "--output", out, "--shards", "8")
    assert r.returncode == 3, r.stderr[-1500:]  # planted violations present
    summary = json.loads(r.stdout.strip().splitlines()[-1])
    assert summary["rows"] > 0 and summary["invalid_rows"] > 0
    assert os.path.isdir(f"{out}/verdicts") and os.path.isdir(f"{out}/violations")


def test_cli_validate_ndjson_with_json_schema(tmp_path):
    schema = {
        "title": "people",
        "type": "object",
        "properties": {
            "name": {"type": "string", "minLength": 2},
            "age": {"type": "integer", "minimum": 0},
        },
        "required": ["name", "age"],
    }
    sfile = tmp_path / "schema.json"
    sfile.write_text(json.dumps(schema))
    data = tmp_path / "data"
    data.mkdir()
    (data / "d.ndjson").write_text(
        '{"name":"ann","age":3}\n{"name":"x","age":-1}\n'
    )
    out = str(tmp_path / "out")
    r = _cli(
        "validate", "--input", str(data), "--format", "ndjson",
        "--schema", str(sfile), "--output", out,
    )
    assert r.returncode == 3, r.stderr[-1500:]
    summary = json.loads(r.stdout.strip().splitlines()[-1])
    assert summary["rows"] == 2 and summary["invalid_rows"] == 1


def test_cli_resume_via_manifest(spark, tmp_path):
    from satya_spark.transcripts import synthesize

    inp = str(tmp_path / "in.parquet")
    synthesize(spark, 200).write.parquet(inp)
    out1, out2 = str(tmp_path / "o1"), str(tmp_path / "o2")
    man = str(tmp_path / "manifest")
    r1 = _cli("validate", "--input", inp, "--output", out1,
              "--manifest", man, "--shards", "8")
    assert r1.returncode == 3
    # second run: everything already validated -> zero new rows
    r2 = _cli("validate", "--input", inp, "--output", out2,
              "--manifest", man, "--shards", "8")
    s2 = json.loads(r2.stdout.strip().splitlines()[-1])
    assert s2["rows"] == 0 and r2.returncode == 0


def test_input_fingerprint_distinguishes_remote_uris():
    from satya_spark.__main__ import _input_fingerprint

    a = _input_fingerprint("s3a://bucket/datasetA")
    b = _input_fingerprint("s3a://bucket/datasetB")
    assert a != b  # review r2: URIs used to collapse to one constant


def test_input_fingerprint_path_spelling_invariant(tmp_path):
    # review r2: ./data vs /abs/data must resume each other (content
    # identity, not path identity)
    import os

    from satya_spark.__main__ import _input_fingerprint

    d = tmp_path / "data"
    d.mkdir()
    (d / "part.parquet").write_bytes(b"x" * 10)
    absolute = _input_fingerprint(str(d))
    cwd = os.getcwd()
    try:
        os.chdir(tmp_path)
        relative = _input_fingerprint("data")
    finally:
        os.chdir(cwd)
    assert absolute == relative


def test_cli_triage(spark, tmp_path):
    from satya_spark.transcripts import synthesize

    inp = str(tmp_path / "in.parquet")
    synthesize(spark, 500).write.parquet(inp)
    r = _cli(
        "triage", "--input", inp, "--sample-n", "2", "--top-n", "3",
        "--drift-group", "role", "--drift-metric", "text",
    )
    assert r.returncode == 0, r.stderr[-1500:]
    report = json.loads(r.stdout.strip().splitlines()[-1])
    assert report["violation_sample"], "planted violations must sample"
    assert all(row["rk"] <= 2 for row in report["violation_sample"])
    assert 1 <= len(report["worst_groups"]) <= 3
    psis = {row["grp"]: row["psi"] for row in report["group_psi"]}
    assert "user" in psis and len(psis) >= 3
    # transcripts-shaped input -> sequence-level structure summary
    # (synthesize plants moderator roles and tools on user turns)
    sv = report["structure_violations"]
    assert sv.get("role_unknown", 0) > 0
    assert sv.get("tool_on_invalid_role", 0) > 0


def test_cli_validate_quarantine_split(spark, tmp_path):
    from satya_spark.io import read_split
    from satya_spark.transcripts import synthesize

    inp = str(tmp_path / "in.parquet")
    synthesize(spark, 200).write.parquet(inp)
    out = str(tmp_path / "out")
    r = _cli(
        "validate", "--input", inp, "--output", out,
        "--shards", "8", "--quarantine",
    )
    assert r.returncode == 3, r.stderr[-1500:]
    summary = json.loads(r.stdout.strip().splitlines()[-1])
    assert summary["split"]["clean"].endswith("valid=true")
    clean = read_split(spark, f"{out}/split", "clean")
    quar = read_split(spark, f"{out}/split", "quarantine")
    assert clean.count() + quar.count() == summary["rows"]
    assert quar.count() > 0


def _validate_in_process(monkeypatch, argv):
    """Run ``validate`` in this process. Returns (exit code, summary,
    kernel-array builds, the planned query of every DataFrame write).
    Builds are counted behind the compiled-spec memo."""
    import io
    from contextlib import redirect_stdout

    from pyspark.sql import SparkSession
    from pyspark.sql.readwriter import DataFrameWriter

    from satya_spark.__main__ import main
    from satya_spark.compiler import CompiledSpec

    builds, plans = [], []
    build = CompiledSpec._violations_array

    def counted(self):
        builds.append(1)
        return build(self)

    def recorded(write):
        def wrapper(self, *args, **kwargs):
            out = write(self, *args, **kwargs)
            plans.append(self._df._jdf.queryExecution().executedPlan().toString())
            return out

        return wrapper

    monkeypatch.setattr(CompiledSpec, "_violations_array", counted)
    monkeypatch.setattr(DataFrameWriter, "save", recorded(DataFrameWriter.save))
    monkeypatch.setattr(DataFrameWriter, "parquet", recorded(DataFrameWriter.parquet))
    # plan strings cut scan locations at 100 characters by default
    conf = SparkSession.active().conf
    limit = conf.get("spark.sql.maxMetadataStringLength")
    conf.set("spark.sql.maxMetadataStringLength", "100000")
    buf = io.StringIO()
    try:
        with redirect_stdout(buf):
            rc = main(["validate", *argv])
    finally:
        conf.set("spark.sql.maxMetadataStringLength", limit)
        monkeypatch.undo()
    return rc, json.loads(buf.getvalue().strip().splitlines()[-1]), len(builds), plans


def _scans_of(plans, path):
    """How many of ``plans`` hold a FileScan over ``path``."""
    return sum(
        any("FileScan" in line and path in line for line in p.splitlines())
        for p in plans
    )


def _assert_matches_three_pass(spark, eng, inp, out, summary):
    """Verdict rows, violation rows (as a multiset) and split counts
    of a ``validate --quarantine`` run equal the three-pass reference
    (``shard_verdicts(annotate(df))``, ``violations(df)``)."""
    from collections import Counter

    from satya_spark.io import read_split

    df = eng.conform(spark.read.parquet(inp))
    ann = eng.annotate(df)
    want_verdicts = sorted(tuple(r) for r in eng.shard_verdicts(ann).collect())
    got_verdicts = sorted(tuple(r) for r in spark.read.parquet(f"{out}/verdicts").collect())
    assert got_verdicts == want_verdicts
    want_viol = Counter(tuple(r) for r in eng.violations(df).collect())
    got_viol = Counter(tuple(r) for r in spark.read.parquet(f"{out}/violations").collect())
    assert got_viol == want_viol
    n_invalid = ann.filter(~F.col("valid")).count()
    n_rows = df.count()
    assert read_split(spark, f"{out}/split", "quarantine").count() == n_invalid
    assert read_split(spark, f"{out}/split", "clean").count() == n_rows - n_invalid
    assert (summary["rows"], summary["invalid_rows"]) == (n_rows, n_invalid)
    return got_viol


def test_cli_validate_quarantine_single_kernel_pass(spark, tmp_path, monkeypatch):
    """validate --quarantine builds the kernel array once and runs it
    over the input once (the split write); verdicts and violations
    derived from the split equal the three-pass reference."""
    from satya_spark.engine import ValidationEngine
    from satya_spark.spec import transcript_spec
    from satya_spark.transcripts import synthesize

    inp = str(tmp_path / "in.parquet")
    synthesize(spark, 200).write.parquet(inp)
    out = str(tmp_path / "out")
    rc, summary, builds, plans = _validate_in_process(
        monkeypatch,
        ["--input", inp, "--output", out, "--shards", "8", "--quarantine"],
    )
    assert rc == 3 and summary["invalid_rows"] > 0
    assert builds == 1
    assert len(plans) == 3  # split, verdicts, violations
    assert _scans_of(plans, inp) == 1
    eng = ValidationEngine(transcript_spec(), n_shards=8)
    _assert_matches_three_pass(spark, eng, inp, out, summary)


def test_cli_validate_quarantine_keeps_violations_uncapped(spark, tmp_path, monkeypatch):
    """A spec with more rules than MAX_VIOLATIONS_PER_ROW and a row
    breaking more than that many: the verdicts count the capped array
    (as the reference does), the violation rows stay uncapped."""
    from satya_spark.engine import MAX_VIOLATIONS_PER_ROW, ValidationEngine
    from satya_spark.spec_json import from_json_schema

    n_rules = MAX_VIOLATIONS_PER_ROW + 6
    cols = [f"f{i}" for i in range(n_rules)]
    schema = {
        "title": "wide",
        "type": "object",
        "properties": {
            "id": {"type": "integer"},
            **{c: {"type": "integer", "minimum": 0} for c in cols},
        },
    }
    sfile = tmp_path / "schema.json"
    sfile.write_text(json.dumps(schema))
    rows = [(1, *[-1] * n_rules), (2, *[0] * n_rules), (3, -1, -1, *[5] * (n_rules - 2))]
    inp = str(tmp_path / "in.parquet")
    spark.createDataFrame(
        rows, ", ".join(f"{c} long" for c in ["id", *cols])
    ).write.parquet(inp)
    out = str(tmp_path / "out")
    rc, summary, builds, plans = _validate_in_process(
        monkeypatch,
        ["--input", inp, "--output", out, "--shards", "4",
         "--schema", str(sfile), "--quarantine"],
    )
    assert rc == 3 and builds == 1 and _scans_of(plans, inp) == 1
    eng = ValidationEngine(from_json_schema(schema), n_shards=4)
    viol = _assert_matches_three_pass(spark, eng, inp, out, summary)
    per_id = {}
    for (key, *_), n in viol.items():
        per_id[key] = per_id.get(key, 0) + n
    assert per_id == {1: n_rules, 3: 2}
    verdicts = spark.read.parquet(f"{out}/verdicts").collect()
    assert sum(r["n_rule_violations"] for r in verdicts) == MAX_VIOLATIONS_PER_ROW + 2


def test_cli_validate_quarantine_empty_input(spark, tmp_path, monkeypatch):
    """A 0-row input writes no split partition; the split is read back
    with the annotated schema, so the job still succeeds."""
    from satya_spark.transcripts import synthesize

    inp = str(tmp_path / "in.parquet")
    synthesize(spark, 10).limit(0).write.parquet(inp)
    out = str(tmp_path / "out")
    rc, summary, builds, _ = _validate_in_process(
        monkeypatch, ["--input", inp, "--output", out, "--quarantine"]
    )
    assert rc == 0 and builds == 1
    assert (summary["rows"], summary["invalid_rows"], summary["shards"]) == (0, 0, 0)


def test_cli_clean_corpus(spark, tmp_path):
    """clean: PII redacted in kept rows, short/repetitive/duplicate
    rows dropped with per-rule reasons, one JSON summary line."""
    import json as _json

    from satya_spark.__main__ import main

    src = str(tmp_path / "docs")
    rows = [
        (1, "the quick brown fox jumps over the lazy dog tonight"),
        (2, "mail ada@math.org the quick brown fox jumps over the dog"),
        (3, "dup dup dup dup dup dup dup dup"),        # repetitive
        (4, "too short"),                               # < min tokens
        (5, "the quick brown fox jumps over the lazy dog tonight"),  # dup of 1
    ]
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(src)
    out = str(tmp_path / "out")
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        rc = main(
            [
                "clean", "--input", src, "--output", out,
                "--min-tokens", "5", "--max-top-bigram", "0.5", "--dedup",
            ]
        )
    assert rc == 0
    summary = _json.loads(buf.getvalue().strip().splitlines()[-1])
    assert summary["rows_in"] == 5
    kept = {r["doc_id"]: r["text"] for r in spark.read.parquet(f"{out}/kept").collect()}
    dropped = {
        r["doc_id"]: sorted(r["drop_reasons"])
        for r in spark.read.parquet(f"{out}/dropped").collect()
    }
    assert set(kept) == {1, 2}
    assert "<EMAIL>" in kept[2] and "ada@math.org" not in kept[2]
    assert dropped[3] == ["repetitive"]
    # reasons ACCUMULATE: 2 tokens → too_short, and its single bigram
    # is 100% of bigrams → repetitive too
    assert dropped[4] == ["repetitive", "too_short"]
    assert dropped[5] == ["duplicate"]
    assert summary["rows_kept"] == 2 and summary["rows_dropped"] == 3


def test_cli_clean_decontam(spark, tmp_path):
    """clean --decontam-against: rows overlapping the eval suite by
    >= min-hits word n-grams are dropped with reason 'contaminated';
    non-overlapping rows survive."""
    import json as _json

    from satya_spark.__main__ import main

    src = str(tmp_path / "docs")
    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (2, "one two three four five six seven eight nine ten eleven"),
    ]
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(src)
    bench = str(tmp_path / "bench")
    spark.createDataFrame(
        [("alpha beta gamma delta epsilon zeta eta theta",)], "text string"
    ).write.parquet(bench)
    out = str(tmp_path / "out")
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        rc = main(
            [
                "clean", "--input", src, "--output", out,
                "--min-tokens", "2", "--decontam-against", bench,
            ]
        )
    assert rc == 0
    summary = _json.loads(buf.getvalue().strip().splitlines()[-1])
    assert summary["rows_kept"] == 1
    dropped = {
        r["doc_id"]: list(r["drop_reasons"])
        for r in spark.read.parquet(f"{out}/dropped").collect()
    }
    assert dropped == {1: ["contaminated"]}


def test_cli_clean_c4_and_gopher(spark, tmp_path):
    """clean --c4-lines --gopher: page-rule failures drop with
    'c4_page' (original text preserved in dropped/), surviving pages
    get the line-filtered text, and the Gopher composites add
    'gopher_quality' / 'gopher_repetition' reasons computed on the
    CLEANED text."""
    import json as _json

    from satya_spark.__main__ import main

    body = "\n".join([
        "the quick brown fox jumps over the lazy dog near the barn.",
        "a farmer went out early to check on those wide green fields.",
        "later that evening everyone gathered around with warm bread.",
        "children played outside until the stars came up above town.",
        "nobody wanted to leave because the music kept playing on.",
    ])
    src = str(tmp_path / "docs")
    rows = [
        (1, body + "\nclick here"),  # junk line filtered, page survives
        (2, "lorem ipsum dolor sit amet.\n" + body),  # page poison
        # passes C4 but fails Gopher repetition: a 10-word sentence
        # repeated — dup 5..10-gram char mass near 1.0
        (3, "\n".join(
            ["pack my box with five dozen liquor jugs right now ok."] * 6
        )),
    ]
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(src)
    out = str(tmp_path / "out")
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        rc = main(
            [
                "clean", "--input", src, "--output", out,
                "--min-tokens", "2", "--min-ttr", "0.0",
                "--max-top-bigram", "1.0", "--c4-lines", "--gopher",
            ]
        )
    assert rc == 0
    summary = _json.loads(buf.getvalue().strip().splitlines()[-1])
    assert summary["rows_kept"] == 1
    kept = {r["doc_id"]: r["text"] for r in
            spark.read.parquet(f"{out}/kept").collect()}
    assert set(kept) == {1}
    assert "click here" not in kept[1]  # line filter rewrote the text
    dropped = {r["doc_id"]: (sorted(r["drop_reasons"]), r["text"]) for r in
               spark.read.parquet(f"{out}/dropped").collect()}
    assert dropped[2][0] == ["c4_page"]
    assert "lorem ipsum" in dropped[2][1]  # original text preserved
    assert "gopher_repetition" in dropped[3][0]


def test_cli_validate_incremental(spark, tmp_path):
    """validate --file-manifest: second run over unchanged input
    validates zero files."""
    import json as _json

    from satya_spark.transcripts import synthesize

    inp = str(tmp_path / "in")
    synthesize(spark, 100).coalesce(2).write.parquet(inp)
    fm = str(tmp_path / "fm")
    out = str(tmp_path / "out")  # unused in incremental mode but required
    r1 = _cli("validate", "--input", inp, "--output", out, "--file-manifest", fm)
    s1 = _json.loads(r1.stdout.strip().splitlines()[-1])
    assert r1.returncode == 3, r1.stderr[-1500:]  # planted violations
    assert s1["files_validated"] == s1["files_total"] >= 2
    r2 = _cli("validate", "--input", inp, "--output", out, "--file-manifest", fm)
    s2 = _json.loads(r2.stdout.strip().splitlines()[-1])
    assert s2["files_validated"] == 0
    assert s2["files_skipped"] == s1["files_total"]
    assert r2.returncode == 0  # nothing validated -> nothing failed


def test_cli_clean_near_dedup(spark, tmp_path):
    """clean --near-dedup: a near-dup CHAIN (a~b, b~c) collapses to
    ONE kept doc via connected components — per-pair dropping would
    keep zero or double-flag. The kept copy is the min-id member that
    passes the OTHER rules: doc 1 is the min id of the cluster but
    fails --max-tokens, so doc 2 survives (a blind min-id canonical
    would delete every copy of the content)."""
    import json as _json

    from satya_spark.__main__ import main

    base = " ".join(f"tok{i}" for i in range(30))
    rows = [
        (1, base + " alpha beta gamma delta"),  # 34 tokens: too_long
        (2, base + " alpha beta"),              # 32 tokens, clean
        (3, base + " alpha beta gamma"),        # 33 tokens, near dup of 2
        (4, "completely different text with many unrelated words here"),
    ]
    src = str(tmp_path / "docs")
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(src)
    out = str(tmp_path / "out")
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        rc = main(
            [
                "clean", "--input", src, "--output", out,
                "--min-tokens", "2", "--max-tokens", "33", "--near-dedup",
            ]
        )
    assert rc == 0
    summary = _json.loads(buf.getvalue().strip().splitlines()[-1])
    kept = {r["doc_id"] for r in spark.read.parquet(f"{out}/kept").collect()}
    dropped = {
        r["doc_id"]: sorted(r["drop_reasons"])
        for r in spark.read.parquet(f"{out}/dropped").collect()
    }
    assert kept == {2, 4}
    assert dropped[1] == ["too_long"]       # NOT also near_duplicate
    assert dropped[3] == ["near_duplicate"]
    assert summary["rows_kept"] == 2 and summary["rows_dropped"] == 2
