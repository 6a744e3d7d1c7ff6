"""The three workloads: inputs, one closed-loop iteration, checks.

Each workload stages its seeded inputs, then runs iterations one
after another (one client; each call starts after the previous one
returned). An iteration returns ``Op`` records: one per timed
operation, with its wall time, the items it processed and whether it
raised or returned a wrong output. The checks compare outputs with
counts derived from the generator's planted labels or from the
repository's DuckDB oracle twins, never with the program's own
results. Inputs are generated by ``gen.py`` in a child process, and
the checks that need pyarrow or DuckDB run after the memory reading,
so ``peak_rss_mb`` is the program's own footprint.

Traced runs wrap every call into a layer in a span (see
:mod:`spans`). ``LAYERS`` lists each workload's spans and the counters
they report; the ``__main__`` spans are the CLI jobs themselves, the
other spans of validate_table and clean_corpus come from a layer pass
that calls each public function once more with an action that
materializes its result.
"""

import contextlib
import io
import json
import math
import os
import pickle
import shutil
import subprocess
import sys
import time
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))

ALL = ("wall_s", "driver_s", "jobs", "executor_cpu_s", "shuffle_write_mb")
WALL = ("wall_s",)

# span name -> counters; every workload reports every layer (0 where
# the workload never calls it)
LAYERS = {
    "session.get_spark": WALL,
    "compiler.compile_spec": WALL,
    "model.Model.validator": ALL,
    "__main__.validate": ALL,
    "engine.shard_verdicts": ALL,
    "engine.violations": ALL,
    "engine.write_split": ALL,
    "crossrow.duplicate_keys": ALL,
    "crossrow.referential_violations": ALL,
    "crossrow.null_rate_violations": ALL,
    "engine.drift_check_split": ALL,
    "__main__.triage": ALL,
    "convcheck.conversation_structure_violations": ALL,
    "crossrow.violations_sample": ALL,
    "crossrow.top_violating_groups": ALL,
    "drift.psi_by_group": ALL,
    "__main__.clean": ALL,
    "functions.lines.clean_lines": ALL,
    "functions.text.with_repetition": ALL,
    "functions.pii.with_pii": ALL,
    "functions.gopher.gopher_quality": ALL,
    "functions.gopher.gopher_ngram_repetition": ALL,
    "functions.dedup.minhash_dedup_pairs": ALL,
    "functions.dedup.dup_clusters": ALL,
    "model.Model.__init__": ALL,
    "compat.StreamValidator.validate_batch": ALL,
}
# spans whose first call is the set-up cost; later calls hit caches
FIRST_CALL = ("session.get_spark", "compiler.compile_spec", "model.Model.validator")
RATIO_SPANS = ("__main__.validate", "__main__.triage", "__main__.clean")


@dataclass
class Op:
    kind: str  # which timed operation (see each workload)
    seconds: float
    items: int
    ok: bool
    note: str = ""


@dataclass
class Ctx:
    tmp: str  # scratch directory of this run
    seed: int
    tracer: object
    spark: object = None
    state: dict = field(default_factory=dict)


def _run_cli(argv: list) -> tuple:
    """Run one CLI job in-process; returns (exit code, last stdout line)."""
    from satya_spark.__main__ import main

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = main(argv)
    lines = buf.getvalue().strip().splitlines()
    return rc, lines[-1] if lines else ""


def _stage(ctx: Ctx, kind: str):
    """Generate one workload's inputs under the run's scratch dir in a
    child process (see gen.py); returns the planted labels."""
    subprocess.run(
        [sys.executable, os.path.join(HERE, "gen.py"), kind, "--seed", str(ctx.seed), "--out", ctx.tmp],
        check=True,
    )
    with open(os.path.join(ctx.tmp, f"{kind}-labels.pkl"), "rb") as f:
        return pickle.load(f)


def _timed(ctx: Ctx, kind: str, span: str, items: int, fn) -> Op:
    """Time ``fn`` inside a span; ``fn`` returns an error string or ''.
    An exception counts as a failed operation."""
    t0 = time.perf_counter()
    try:
        with ctx.tracer.span(span):
            note = fn()
    except Exception as e:  # noqa: BLE001 - a failing call is a measured outcome
        note = f"raised {type(e).__name__}: {e}"[:300]
    return Op(kind, time.perf_counter() - t0, items, not note, note)


def _rows(path: str) -> int:
    """Row count of a parquet directory, from file footers."""
    import pyarrow.parquet as pq

    if not os.path.isdir(path):
        return 0
    return sum(
        pq.ParquetFile(os.path.join(d, f)).metadata.num_rows
        for d, _, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# --- validate_table ---------------------------------------------------------------

class ValidateTable:
    """validate --quarantine, then the cross-row checks, then triage,
    over one seeded transcript table."""

    name = "validate_table"
    # the first warm pass leaves JIT and caches cold enough that the
    # next pass runs 10-20 % slower than later ones; a run times at
    # least two passes, so each step's median never rests on one job
    warm_iterations = 2
    min_timed = 2

    def setup(self, ctx: Ctx) -> None:
        ctx.state["labels"] = _stage(ctx, "transcripts")
        ctx.state["table"] = os.path.join(ctx.tmp, "transcripts")
        ctx.state["rows"] = ctx.state["labels"]["rows"]

    def iteration(self, ctx: Ctx) -> list:
        st = ctx.state
        # a fresh output dir per iteration: its row counts are read in
        # verify(), after the run's memory reading
        out = os.path.join(ctx.tmp, f"out-{len(st.setdefault('results', []))}")
        rows, table = st["rows"], st["table"]
        res: dict = {"out": out}
        # each CLI job is a fresh process for its user: frames the
        # library persisted in an earlier iteration must not serve this one
        ctx.spark.catalog.clearCache()

        def validate():
            rc, line = _run_cli(["validate", "--input", table, "--output", out, "--quarantine"])
            res["validate"] = (rc, json.loads(line))
            return ""

        def checks():
            res["checks"] = self._checks(ctx)
            return ""

        def triage():
            rc, line = _run_cli(["triage", "--input", table, "--drift-group", "role", "--drift-metric", "text"])
            res["triage"] = (rc, json.loads(line))
            return ""

        ops = [_timed(ctx, "validate", "__main__.validate", rows, validate)]
        ops.append(_timed(ctx, "checks", "checks", rows, checks))
        ops.append(_timed(ctx, "triage", "__main__.triage", rows, triage))
        st["results"].append((ops, res))
        return ops

    def _checks(self, ctx: Ctx) -> dict:
        """The cross-row outputs of ``ValidationEngine.run`` (duplicate
        keys, referential and null-rate violations), each materialized
        in the span of the crossrow function that builds it, plus the
        split drift check."""
        from pyspark.sql import functions as F

        from satya_spark.engine import ValidationEngine
        from satya_spark.spec import transcript_spec

        spark, tr = ctx.spark, ctx.tracer
        eng = ValidationEngine(transcript_spec())
        df = spark.read.parquet(ctx.state["table"])
        catalog = spark.read.parquet(os.path.join(ctx.tmp, "tool_catalog"))
        run = eng.run(df, {name: catalog for _, name in eng.spec.references})
        out: dict = {"dangling": 0, "null_rate": []}
        with tr.span("crossrow.duplicate_keys"):
            out["dups"] = {f"{r['conv_id']}|{r['turn_idx']}": r["dup_count"] for r in run.duplicates.collect()}
        for refs in run.referential.values():
            with tr.span("crossrow.referential_violations"):
                out["dangling"] += refs.count()
        for nulls in run.null_rate.values():
            with tr.span("crossrow.null_rate_violations"):
                out["null_rate"] += [r.asDict() for r in nulls.collect()]
        with tr.span("engine.drift_check_split"):
            d = eng.drift_check_split(df, (F.col("n_turns") % 2).cast("int"))
            out["psi"] = {r["bucket"]: r["psi_contrib"] for r in d["psi"].collect()}
            out["ks"] = d["ks"].collect()[0]["ks_stat"]
        return out

    def layer_pass(self, ctx: Ctx) -> None:
        """Each public function of the validate and triage paths once
        more, materialized on its own (traced runs only)."""
        from pyspark.sql import functions as F

        from satya_spark import crossrow, drift
        from satya_spark.convcheck import conversation_structure_violations
        from satya_spark.engine import ValidationEngine
        from satya_spark.spec import transcript_spec

        spark, tr = ctx.spark, ctx.tracer
        eng = ValidationEngine(transcript_spec())
        df = eng.conform(spark.read.parquet(ctx.state["table"]))
        keys = list(eng.spec.unique_key)
        with tr.span("engine.shard_verdicts"):
            eng.shard_verdicts(eng.annotate(df)).collect()
        with tr.span("engine.violations"):
            _noop(eng.violations(df))
        with tr.span("engine.write_split"):
            eng.write_split(df, os.path.join(ctx.tmp, "layer_split"))
        with tr.span("convcheck.conversation_structure_violations"):
            _noop(conversation_structure_violations(df))
        viol = eng.violations(df)
        with tr.span("crossrow.violations_sample"):
            crossrow.violations_sample(viol, keys, n=3).collect()
        with tr.span("crossrow.top_violating_groups"):
            crossrow.top_violating_groups(viol, keys[0], n=10).collect()
        m = df.select(
            F.coalesce(F.col("role"), F.lit("<null>")).alias("g"),
            F.coalesce(F.length("text"), F.lit(0)).alias("m"),
        )
        with tr.span("drift.psi_by_group"):
            drift.psi_by_group(m, "m", "g", 200.0, 20).collect()

    def trace_tail(self, ctx: Ctx) -> list:
        """Traced runs only: one clean job and the clean layer pass on
        a small corpus, so the functions.* spans are measured although
        clean_corpus is not one of the benchmark's workloads (a clean
        run does not fit the run budget, see BENCHMARK.json)."""
        sub = Ctx(tmp=os.path.join(ctx.tmp, "clean"), seed=ctx.seed, tracer=ctx.tracer, spark=ctx.spark)
        os.makedirs(sub.tmp)
        clean = CleanCorpus()
        clean.setup(sub)
        ops = clean.iteration(sub)
        clean.layer_pass(sub)
        ctx.state["ratio_rows"] = {"__main__.clean": sub.state["rows"]}
        return ops

    def verify(self, ctx: Ctx) -> None:
        """Mark every recorded operation wrong whose output disagrees
        with the oracle."""
        exp = _transcript_oracle(ctx)
        lab = ctx.state["labels"]
        for ops, res in ctx.state.pop("results", []):
            byk = {o.kind: o for o in ops}
            errs = {"validate": [], "checks": [], "triage": []}
            out = res["out"]
            if "validate" in res:
                res["split"] = {v: _rows(os.path.join(out, "split", f"valid={v}")) for v in ("true", "false")}
                res["violations_rows"] = _rows(os.path.join(out, "violations"))
                rc, s = res["validate"]
                want = {"rows": lab["rows"], "invalid_rows": lab["invalid_rows"]}
                got = {k: s.get(k) for k in want}
                if rc != 3 or got != want:
                    errs["validate"].append(f"summary {got} rc={rc}, want {want} rc=3")
                split = {"true": lab["rows"] - lab["invalid_rows"], "false": lab["invalid_rows"]}
                if res.get("split") != split:
                    errs["validate"].append(f"split {res.get('split')} want {split}")
                if res.get("violations_rows") != exp["violations"]:
                    errs["validate"].append(f"violations {res.get('violations_rows')} want {exp['violations']}")
            if "checks" in res:
                c = res["checks"]
                if c["dups"] != lab["duplicate_keys"]:
                    errs["checks"].append(f"{len(c['dups'])} duplicate keys, want {len(lab['duplicate_keys'])}")
                if c["dangling"] != lab["dangling_refs"]:
                    errs["checks"].append(f"dangling {c['dangling']} want {lab['dangling_refs']}")
                nr = c["null_rate"]
                if len(nr) != 1 or abs(nr[0]["null_rate"] - lab["tool_null_rate"]) > 1e-9:
                    errs["checks"].append(f"null rate {nr} want {lab['tool_null_rate']}")
                if not _close(c["psi"], exp["split_psi"]) or abs(c["ks"] - exp["split_ks"]) > 2e-6:
                    errs["checks"].append("split drift differs from the oracle")
            if "triage" in res:
                rc, r = res["triage"]
                if rc != 0:
                    errs["triage"].append(f"rc={rc}")
                if r.get("structure_violations") != exp["structure"]:
                    errs["triage"].append(f"structure counts {r.get('structure_violations')} want {exp['structure']}")
                worst = [(w["conv_id"], w["n_violations"]) for w in r.get("worst_groups", [])]
                if worst != exp["worst"]:
                    errs["triage"].append(f"worst groups {worst[:3]} want {exp['worst'][:3]}")
                sample = sorted(
                    (v["conv_id"], v["turn_idx"], v["field"], v["constraint_name"])
                    for v in r.get("violation_sample", [])
                )
                if sample != exp["sample"]:
                    errs["triage"].append("violation sample differs from the oracle")
                psi = {g["grp"]: (g["psi"], g["n_rows"]) for g in r.get("group_psi", [])}
                if psi.keys() != exp["group_psi"].keys() or any(
                    psi[k][1] != exp["group_psi"][k][1] or abs(psi[k][0] - exp["group_psi"][k][0]) > 2e-6
                    for k in psi
                ):
                    errs["triage"].append("group psi differs from the oracle")
            for kind, e in errs.items():
                if e and kind in byk and byk[kind].ok:
                    byk[kind].ok = False
                    byk[kind].note = "; ".join(e)
            shutil.rmtree(out, ignore_errors=True)


def _close(a: dict, b: dict, tol: float = 2e-6) -> bool:
    return a.keys() == b.keys() and all(abs(a[k] - b[k]) <= tol for k in a)


def _transcript_oracle(ctx: Ctx) -> dict:
    """Expected triage, drift and violation outputs from the DuckDB
    twins (``violations_sql``, ``conversation_structure_sql``) and
    plain SQL over the same files, computed once per run."""
    if "oracle" in ctx.state:
        return ctx.state["oracle"]
    import duckdb

    from satya_spark.compiler import compile_spec
    from satya_spark.convcheck import conversation_structure_sql
    from satya_spark.spec import transcript_spec

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute(f"CREATE VIEW t AS SELECT * FROM read_parquet('{ctx.state['table']}/*.parquet')")
    vsql = compile_spec(transcript_spec()).violations_sql("t", ["conv_id", "turn_idx"])
    con.execute(f"CREATE TEMP TABLE v AS {vsql}")
    q = con.execute
    exp = {"violations": q("SELECT count(*) FROM v").fetchone()[0]}
    exp["structure"] = dict(
        q(f"SELECT constraint_name, count(*) FROM ({conversation_structure_sql('t')}) GROUP BY 1 ORDER BY 1").fetchall()
    )
    exp["worst"] = [
        tuple(r) for r in q("SELECT conv_id, count(*) n FROM v GROUP BY 1 ORDER BY n DESC, conv_id LIMIT 10").fetchall()
    ]
    exp["sample"] = sorted(
        tuple(r)
        for r in q(
            "SELECT conv_id, turn_idx, field, constraint_name FROM (SELECT *, row_number() OVER "
            "(PARTITION BY field, constraint_name ORDER BY conv_id, turn_idx) rk FROM v) WHERE rk <= 3"
        ).fetchall()
    )
    # split drift: per-conversation mean text length, halves by n_turns parity
    pair = q(
        "WITH s AS (SELECT conv_id, count(*) n, sum(coalesce(length(text), 0)) sl FROM t GROUP BY 1), "
        "b AS (SELECT greatest(least(CAST(floor(round(sl / n, 4) / 10.0) AS INT), 15), 0) bucket, n % 2 half FROM s) "
        "SELECT g.i, count(*) FILTER (WHERE half = 0), count(*) FILTER (WHERE half = 1) "
        "FROM range(16) g(i) LEFT JOIN b ON b.bucket = g.i GROUP BY 1 ORDER BY 1"
    ).fetchall()
    exp["split_psi"], exp["split_ks"] = _psi_ks([(int(i), a, b) for i, a, b in pair])
    hist = q(
        "SELECT coalesce(role, '<null>') g, greatest(least(CAST(floor(coalesce(length(text), 0) / 200.0) AS INT), 19), 0) b, "
        "count(*) FROM t GROUP BY 1, 2"
    ).fetchall()
    exp["group_psi"] = _group_psi(hist, 20)
    con.close()
    ctx.state["oracle"] = exp
    return exp


EPS = 1e-6


def _psi_ks(pair: list) -> tuple:
    t_ref = sum(a for _, a, _ in pair)
    t_cur = sum(b for _, _, b in pair)
    psi, gap, ca, cb = {}, 0.0, 0, 0
    for i, a, b in pair:
        p, q = a / t_ref + EPS, b / t_cur + EPS
        psi[i] = round((p - q) * math.log(p / q), 6)
        ca, cb = ca + a, cb + b
        gap = max(gap, abs(ca / t_ref - cb / t_cur))
    return psi, round(gap, 6)


def _group_psi(hist: list, n_buckets: int) -> dict:
    ref = [0] * n_buckets
    cur: dict = {}
    for g, b, n in hist:
        ref[b] += n
        cur.setdefault(g, [0] * n_buckets)[b] += n
    t_ref = sum(ref)
    out = {}
    for g, h in cur.items():
        t = sum(h)
        s = 0.0
        for b in range(n_buckets):
            p, q = ref[b] / t_ref + EPS, h[b] / t + EPS
            s += (p - q) * math.log(p / q)
        out[g] = (round(s, 6), t)
    return out


# --- clean_corpus -------------------------------------------------------------

class CleanCorpus:
    """clean --dedup --near-dedup --c4-lines --gopher over one seeded
    documents corpus."""

    name = "clean_corpus"
    warm_iterations = 1
    min_timed = 1

    def setup(self, ctx: Ctx) -> None:
        ctx.state["labels"] = _stage(ctx, "corpus")
        ctx.state["rows"] = ctx.state["labels"]["rows"]

    def iteration(self, ctx: Ctx) -> list:
        docs, out = os.path.join(ctx.tmp, "docs"), os.path.join(ctx.tmp, "clean")
        res: dict = {}

        def clean():
            rc, line = _run_cli(
                ["clean", "--input", docs, "--output", out, "--dedup", "--near-dedup", "--c4-lines", "--gopher"]
            )
            res["summary"] = (rc, json.loads(line))
            return ""

        op = _timed(ctx, "clean", "__main__.clean", ctx.state["rows"], clean)
        if op.ok:
            op.note = self._check(ctx, res["summary"], out)
            op.ok = not op.note
        return [op]

    def _check(self, ctx: Ctx, summary: tuple, out: str) -> str:
        import pyarrow.parquet as pq

        lab = ctx.state["labels"]
        rc, s = summary
        kept = pq.read_table(os.path.join(out, "kept"), columns=["doc_id", "text"]).to_pydict()
        dt = pq.read_table(os.path.join(out, "dropped"), columns=["doc_id", "drop_reasons"]).to_pydict()
        dropped = dict(zip(dt["doc_id"], dt["drop_reasons"]))
        kept_text = dict(zip(kept["doc_id"], kept["text"]))
        errs = []
        if rc != 0 or s["rows_in"] != lab["rows"] or s["rows_kept"] + s["rows_dropped"] != lab["rows"]:
            errs.append(f"summary {s} rc={rc}")
        if len(kept_text) + len(dropped) != lab["rows"] or kept_text.keys() & dropped.keys():
            errs.append(f"kept {len(kept_text)} + dropped {len(dropped)} != {lab['rows']} rows in")
        groups: dict = {}
        for orig, copy in lab["exact_dup"]:
            groups.setdefault(orig, {orig}).add(copy)
        for members in list(groups.values()) + [set(m) for m in lab["near_dup"]]:
            if {i for i in members if i in kept_text} != {min(members)}:
                errs.append(f"duplicate group {sorted(members)} keeps {sorted(members & kept_text.keys())}")
                break
        for i, token in lab["pii"]:
            if i in kept_text and token in kept_text[i]:
                errs.append(f"doc {i} kept with PII {token!r}")
                break
        if any(i in kept_text for i in lab["must_drop"]):
            errs.append("a short, repetitive, C4- or Gopher-failing doc was kept")
        singles = set(lab["clean"]) - {i for pair in lab["exact_dup"] for i in pair}
        lost = singles - kept_text.keys()
        if lost:
            reasons = sorted({r for i in lost for r in dropped.get(i, [])})
            errs.append(f"{len(lost)} clean docs dropped, reasons {reasons}")
        return "; ".join(errs)

    def layer_pass(self, ctx: Ctx) -> None:
        from satya_spark.functions import dedup, gopher, lines, pii, text

        spark, tr = ctx.spark, ctx.tracer
        df = spark.read.parquet(os.path.join(ctx.tmp, "docs"))
        with tr.span("functions.lines.clean_lines"):
            _noop(lines.clean_lines(df))
        with tr.span("functions.text.with_repetition"):
            _noop(text.with_repetition(df))
        with tr.span("functions.pii.with_pii"):
            _noop(pii.with_pii(df))
        with tr.span("functions.gopher.gopher_quality"):
            _noop(gopher.gopher_quality(df))
        with tr.span("functions.gopher.gopher_ngram_repetition"):
            _noop(gopher.gopher_ngram_repetition(df))
        with tr.span("functions.dedup.minhash_dedup_pairs"):
            pairs = dedup.minhash_dedup_pairs(df.select("doc_id", "text")).localCheckpoint()
        with tr.span("functions.dedup.dup_clusters"):
            _noop(dedup.dup_clusters(pairs))

    def trace_tail(self, ctx: Ctx) -> list:
        return []

    def verify(self, ctx: Ctx) -> None:
        pass  # each clean job is checked right after it runs


# --- facade_records -----------------------------------------------------------------

RECORDS_PER_ITER = 4


def _models():
    """A flat Model and a Model with one nested sub-model. Annotations
    are evaluated at class creation (this module has no postponed
    annotations), so the local names resolve."""
    import datetime as dt
    from typing import List

    from satya_spark.model import EmailStr, Field, Model

    class Flat(Model):
        name: str = Field(min_length=2, max_length=40)
        email: EmailStr
        age: int = Field(ge=0, le=150)
        score: float = Field(ge=0.0, lt=100.0, multiple_of=0.5)
        tags: List[str] = Field(min_items=1, max_items=5, unique_items=True)
        joined: dt.datetime

    class Address(Model):
        city: str = Field(min_length=1)
        zip: str = Field(pattern=r"^[0-9]{5}$")

    class Person(Model):
        name: str = Field(min_length=2)
        age: int = Field(ge=0, le=150)
        address: Address

    return {"flat": Flat, "nested": Person}


class FacadeRecords:
    """Model(...) construction one record at a time, then
    StreamValidator.validate_batch on 10 k-dict batches. The benchmark
    binds no session: the facade creates its own."""

    name = "facade_records"
    warm_iterations = 1
    min_timed = 1

    def setup(self, ctx: Ctx) -> None:
        ctx.state["models"] = _models()
        labels = _stage(ctx, "facade")
        ctx.state["records"] = labels["records"]
        ctx.state["batch"] = labels["batch"]
        ctx.state["next"] = 0

    def iteration(self, ctx: Ctx) -> list:
        from satya_spark.model import ModelValidationError

        st = ctx.state
        ops = []
        for _ in range(RECORDS_PER_ITER):
            kind, rec, valid = st["records"][st["next"] % len(st["records"])]
            st["next"] += 1
            cls = st["models"][kind]

            def record(cls=cls, rec=rec, valid=valid):
                try:
                    cls(**rec)
                    built = True
                except ModelValidationError:
                    built = False
                return "" if built == valid else f"{kind} record built={built}, labelled valid={valid}"

            ops.append(_timed(ctx, f"record_{kind}", "model.Model.__init__", 1, record))
        items, labels = st["batch"]
        validator = st["models"]["flat"].validator()

        def batch():
            got = validator.validate_batch(items)
            bad = sum(g != w for g, w in zip(got, labels)) + abs(len(got) - len(labels))
            return f"{bad} batch verdicts differ from labels" if bad else ""

        ops.append(_timed(ctx, "batch", "compat.StreamValidator.validate_batch", len(items), batch))
        return ops

    def layer_pass(self, ctx: Ctx) -> None:
        pass  # every facade operation is already a call into one layer

    def trace_tail(self, ctx: Ctx) -> list:
        return []

    def verify(self, ctx: Ctx) -> None:
        pass  # each record and batch is checked as it returns


WORKLOADS = {w.name: w for w in (ValidateTable(), CleanCorpus(), FacadeRecords())}
