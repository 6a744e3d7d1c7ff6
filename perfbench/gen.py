"""Seeded input generators for the three benchmark workloads.

Every generator takes a seed, writes its inputs as plain files (the
program under test only ever sees those files) and returns the labels
the checks compare against. Which rows carry planted defects depends
on the seed; the input sizes do not (within a fraction of a percent),
so throughput stays comparable across seeds.

* :func:`transcripts` — a transcript table shaped for
  ``transcript_spec()``: one hot conversation, ~2 % of rows invalid
  across every constraint class, duplicated ``(conv_id, turn_idx)``
  keys, dangling tool references and a ``tool`` null-rate breach.
* :func:`corpus` — a documents table for ``clean``: a passing majority
  plus exact duplicates, near-duplicate clusters, PII, short,
  repetitive and C4/Gopher-failing documents.
* :func:`facade_records` — labelled dicts for a flat and a nested
  ``Model``, ~25 % invalid.

The benchmark stages inputs through the command line, in a child
process, so the arrays built here never count towards the measured
process's memory high-water mark::

    python3 perfbench/gen.py transcripts|corpus|facade --seed N --out DIR

writes the inputs under ``DIR`` and the labels to
``DIR/<kind>-labels.pkl`` (plain Python objects only).
"""

from __future__ import annotations

import argparse
import datetime as dt
import os
import pickle

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# input sizes of the workloads
N_CONV = 10_000  # ~85 k turns
N_DOCS = 500
N_RECORDS = 1_000  # Model(...) records, cycled through
BATCH = 10_000  # dicts per validate_batch call

# --- transcripts ------------------------------------------------------------

TOOL_CATALOG = tuple(f"tool_{i}" for i in range(50))

# Row-level defects, one constraint each: (field, constraint_name) as
# the compiled transcript spec reports it.
ROW_DEFECTS = (
    ("conv_id", "pattern"),
    ("turn_idx", "ge"),
    ("turn_idx", "le"),
    ("role", "enum"),
    ("role", "required"),
    ("text", "min_length"),
    ("text", "max_length"),
    ("text", "required"),
    ("tool", "pattern"),
    ("ts", "required"),
    ("meta_email", "email"),
    ("meta_url", "url"),
    ("score", "ge"),
    ("score", "multiple_of"),
    ("tags", "min_items"),
    ("tags", "max_items"),
    ("tags", "unique_items"),
)
INVALID_FRAC = 0.02  # planted row-invalid share
DUP_FRAC = 0.002  # extra copies of valid rows (duplicate keys)
DANGLING_FRAC = 0.001  # rows referencing a tool absent from the catalog
TOOL_FRAC = 0.005  # rows carrying a catalog tool: null rate ~0.99 > 0.99 rule

_WORDS = (
    "alpha beta gamma delta model data table query token batch record "
    "schema field value check rule error result output input stream"
).split()


def _write_parquet(table: pa.Table, path: str, n_files: int) -> None:
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        part = table.slice(i * step, step)
        if part.num_rows:
            pq.write_table(part, os.path.join(path, f"part-{i:03d}.parquet"))


def transcripts(seed: int, out_dir: str, n_conv: int, n_files: int = 8) -> dict:
    """Write ``<out_dir>/transcripts`` and ``<out_dir>/tool_catalog``.

    Returns the planted labels: row and invalid-row counts, per-defect
    counts, duplicate keys, dangling references and the tool null
    rate."""
    rng = np.random.default_rng([seed, 1])
    turns = rng.integers(1, 17, size=n_conv)
    turns[0] = 400  # the hot conversation
    cid = np.repeat(np.arange(n_conv), turns)
    starts = np.cumsum(turns) - turns
    tidx = np.arange(cid.size) - np.repeat(starts, turns)
    n = cid.size

    conv_id = np.char.add("c", cid.astype(str)).astype(object)
    role = np.where(tidx == 0, "system", np.where(tidx % 2 == 1, "user", "assistant")).astype(object)
    words = np.array(_WORDS, dtype=object)
    # role-dependent lengths so per-role drift is non-trivial
    n_words = rng.integers(2, 40, size=n) + 20 * (role == "assistant")
    w = rng.integers(0, len(_WORDS), size=n)
    text = np.array(
        [f"turn {t} " + " ".join([words[k]] * m) for t, k, m in zip(tidx, w, n_words)],
        dtype=object,
    )
    tool = np.full(n, None, dtype=object)
    assistant = np.flatnonzero(role == "assistant")
    ts_us = (1_700_000_000 + cid * 3600 + tidx * 7) * 1_000_000
    ts_null = np.zeros(n, dtype=bool)
    meta_email = np.where(role == "user", np.char.add(np.char.add("user", cid.astype(str)), "@example.com").astype(object), None)
    meta_url = np.where(role == "assistant", np.char.add("https://example.com/c/", cid.astype(str)).astype(object), None)
    score = rng.integers(0, 40, size=n) * 0.25
    tag_k = rng.integers(0, 9, size=n)
    tags = np.empty(n, dtype=object)
    tags[:] = [["a", f"t{k}"] for k in tag_k]

    # disjoint planted row sets, drawn by the seed
    n_tool = int(n * TOOL_FRAC)
    n_dangling = int(n * DANGLING_FRAC)
    n_invalid = int(n * INVALID_FRAC)
    n_dup = int(n * DUP_FRAC)
    chosen = rng.permutation(n)
    # tools and dangling refs live on assistant turns (tool_on_invalid_role
    # stays a structure check the oracle decides, not a planted label)
    asg = rng.permutation(assistant)
    tool_rows = asg[:n_tool]
    dangling_rows = asg[n_tool : n_tool + n_dangling]
    tool[tool_rows] = np.array(TOOL_CATALOG, dtype=object)[rng.integers(0, 50, size=n_tool)]
    tool[dangling_rows] = [f"ghost_{k}" for k in rng.integers(0, 7, size=n_dangling)]
    taken = np.zeros(n, dtype=bool)
    taken[tool_rows] = True
    taken[dangling_rows] = True
    free = chosen[~taken[chosen]]
    invalid_rows = free[:n_invalid]
    dup_rows = free[n_invalid : n_invalid + n_dup]
    kinds = rng.integers(0, len(ROW_DEFECTS), size=n_invalid)
    per_defect = {f"{f}.{c}": 0 for f, c in ROW_DEFECTS}
    long_text = "x" * 4001
    for r, k in zip(invalid_rows, kinds):
        field, constraint = ROW_DEFECTS[k]
        per_defect[f"{field}.{constraint}"] += 1
        if field == "conv_id":
            conv_id[r] = "C" + conv_id[r][1:]
        elif field == "turn_idx":
            # distinct per row: a shared out-of-range index would tie two
            # different rows on (conv_id, turn_idx), and the order of
            # tied rows (hence the sequence checks) is engine-dependent
            tidx[r] = -1 - r if constraint == "ge" else 10_000_001 + r
        elif field == "role":
            role[r] = "moderator" if constraint == "enum" else None
        elif field == "text":
            text[r] = {"min_length": "", "max_length": long_text, "required": None}[constraint]
        elif field == "tool":
            tool[r] = "Bad-Tool!"
        elif field == "ts":
            ts_null[r] = True
        elif field == "meta_email":
            meta_email[r] = "not-an-email"
        elif field == "meta_url":
            meta_url[r] = "htp:/bad url"
        elif field == "score":
            score[r] = -0.25 if constraint == "ge" else 1.1
        else:
            tags[r] = {"min_items": [], "max_items": ["a", "b", "c", "d", "e", "f"], "unique_items": ["a", "a"]}[constraint]

    cols = {
        "conv_id": conv_id, "turn_idx": tidx.astype(np.int32), "role": role,
        "text": text, "tool": tool, "ts": ts_us, "ts_null": ts_null, "meta_email": meta_email,
        "meta_url": meta_url, "score": score, "tags": tags,
    }
    # duplicated keys: exact copies of valid rows, appended next to
    # their conversation (the copy sorts right after the original)
    order = np.argsort(np.concatenate([np.arange(n), dup_rows]) * 2 + np.r_[np.zeros(n), np.ones(n_dup)], kind="stable")
    full = {k: np.concatenate([v, v[dup_rows]])[order] for k, v in cols.items()}
    schema = pa.schema([
        ("conv_id", pa.string()), ("turn_idx", pa.int32()), ("role", pa.string()),
        ("text", pa.string()), ("tool", pa.string()), ("ts", pa.timestamp("us", tz="UTC")),
        ("meta_email", pa.string()), ("meta_url", pa.string()), ("score", pa.float64()),
        ("tags", pa.list_(pa.string())),
    ])
    arrays = [
        pa.array(full["ts"], type=f.type, mask=full["ts_null"]) if f.name == "ts"
        else pa.array(list(full["tags"]), type=f.type) if f.name == "tags"
        else pa.array(full[f.name], type=f.type)
        for f in schema
    ]
    _write_parquet(pa.Table.from_arrays(arrays, schema=schema), os.path.join(out_dir, "transcripts"), n_files)
    _write_parquet(pa.table({"tool": list(TOOL_CATALOG)}), os.path.join(out_dir, "tool_catalog"), 1)

    # cross-row expectations, recomputed from the columns as written
    key = np.char.add(np.char.add(full["conv_id"].astype(str), "|"), full["turn_idx"].astype(str))
    uniq, cnt = np.unique(key, return_counts=True)
    tools = full["tool"]
    has_tool = tools != None  # noqa: E711
    catalog = set(TOOL_CATALOG)
    return {
        "rows": int(key.size),
        "invalid_rows": n_invalid,
        "per_defect": per_defect,
        "duplicate_keys": {str(k): int(c) for k, c in zip(uniq[cnt > 1], cnt[cnt > 1])},
        "dangling_refs": int(sum(1 for t in tools[has_tool] if t not in catalog)),
        "tool_null_rate": float(1.0 - has_tool.mean()),
    }


# --- documents corpus -----------------------------------------------------------

VOCAB_SIZE = 200_000
STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")
# (phrase template, planted PII token template)
PII_SAMPLES = (
    ("write to {pii} for the form", "{u}.{v}@example.org"),
    ("the office line is {pii} and that is all", "555-{a:03d}-{b:04d}"),
    ("their number is {pii} to be safe", "{a:03d}-{c:02d}-{b:04d}"),
    ("the host at {pii} was down with the rest", "10.{a}.{c}.{d}"),
)
# share of documents per planted class; the rest are clean
DOC_MIX = {
    "exact_dup": 0.03,
    "near_dup": 0.05,
    "pii": 0.03,
    "short": 0.02,
    "repetitive": 0.02,
    "c4_fail": 0.02,
    "gopher_fail": 0.02,
}


def _vocab() -> np.ndarray:
    """Fixed pseudo-word vocabulary (seed-independent): wide enough
    that unrelated documents share almost no tokens, so LSH candidate
    pairs come from planted near-duplicates, not background overlap."""
    r = np.random.default_rng(12345)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lens = r.integers(4, 10, size=VOCAB_SIZE)
    chars = letters[r.integers(0, 26, size=(VOCAB_SIZE, 9))]
    return np.array(["".join(row[:k]) for row, k in zip(chars, lens)], dtype=object)


def _clean_doc(rng, vocab) -> list:
    """A list of 5..8 lines, each one sentence of 10..17 words ending
    in a full stop, that passes every C4 and Gopher rule. Each doc
    uses exactly two of the required stopwords, so unrelated docs
    share about half a token."""
    sw = rng.choice(len(STOPWORDS), size=2, replace=False)
    lines = []
    for i in range(int(rng.integers(5, 9))):
        ws = list(vocab[rng.integers(0, VOCAB_SIZE, size=int(rng.integers(10, 18)))])
        # never last: the final token carries the full stop
        ws[int(rng.integers(0, len(ws) - 1))] = STOPWORDS[sw[i % 2]]
        lines.append(" ".join(ws) + ".")
    return lines


def corpus(seed: int, out_dir: str, n_docs: int, n_files: int = 8) -> dict:
    """Write ``<out_dir>/docs`` (doc_id, text). Returns per-class doc
    ids: clean, exact-dup originals and copies, near-dup clusters, PII
    docs with their planted strings, and the documents every rule set
    must drop."""
    rng = np.random.default_rng([seed, 2])
    vocab = _vocab()
    counts = {k: int(n_docs * f) for k, f in DOC_MIX.items()}
    texts: list = []
    labels: dict = {"clean": [], "exact_dup": [], "near_dup": [], "pii": [], "must_drop": []}

    def add(lines) -> int:
        texts.append("\n".join(lines))
        return len(texts) - 1

    n_clean = n_docs - sum(counts.values())
    clean = [_clean_doc(rng, vocab) for _ in range(n_clean)]
    for d in clean:
        labels["clean"].append(add(d))
    # exact duplicates: a later copy of a clean doc, case/space changed
    # (same normalized text)
    for _ in range(counts["exact_dup"]):
        src = int(rng.integers(0, n_clean))
        copy = [ln.upper() if i == 0 else ln.replace(" ", "  ", 1) for i, ln in enumerate(clean[src])]
        labels["exact_dup"].append((labels["clean"][src], add(copy)))
    # near-duplicate clusters of 2..5: one fresh doc plus edited copies
    left = counts["near_dup"]
    while left >= 2:
        size = int(min(left, rng.integers(2, 6)))
        base = _clean_doc(rng, vocab)
        members = [add(base)]
        for _ in range(size - 1):
            lines = [ln.split(" ") for ln in base]
            li = int(rng.integers(0, len(lines)))
            # edit one vocabulary word (not a stopword, not the last)
            wi = next(i for i in rng.permutation(len(lines[li]) - 1) if lines[li][i] not in STOPWORDS)
            lines[li][wi] = vocab[int(rng.integers(0, VOCAB_SIZE))]
            members.append(add([" ".join(ws) for ws in lines]))
        labels["near_dup"].append(members)
        left -= size
    for _ in range(counts["pii"]):
        d = _clean_doc(rng, vocab)
        phrase, token = PII_SAMPLES[int(rng.integers(0, len(PII_SAMPLES)))]
        a, c, d_ = (int(x) for x in rng.integers(1, 100, size=3))
        pii = token.format(
            u=vocab[int(rng.integers(0, VOCAB_SIZE))], v=vocab[int(rng.integers(0, VOCAB_SIZE))],
            a=100 + a, b=int(rng.integers(0, 10_000)), c=c, d=d_,
        )
        line = int(rng.integers(0, len(d)))
        d[line] = d[line][:-1] + " " + phrase.format(pii=pii) + "."
        labels["pii"].append((add(d), pii))
    for _ in range(counts["short"]):
        labels["must_drop"].append(add([" ".join(vocab[rng.integers(0, VOCAB_SIZE, size=3)]) + "."]))
    for _ in range(counts["repetitive"]):
        phrase = " ".join(vocab[rng.integers(0, VOCAB_SIZE, size=3)])
        labels["must_drop"].append(add([f"{phrase} the {phrase} and." for _ in range(12)]))
    for i in range(counts["c4_fail"]):
        d = _clean_doc(rng, vocab)
        if i % 2:
            d[0] = d[0][:-1] + " lorem ipsum dolor."
        else:
            d = [ln[:-1] for ln in d]  # no terminal punctuation: no line survives
        labels["must_drop"].append(add(d))
    for _ in range(counts["gopher_fail"]):
        d = _clean_doc(rng, vocab)
        d = [" ".join("#" + t for t in ln.split(" ")) for ln in d]  # symbol ratio
        labels["must_drop"].append(add(d))

    # shuffle positions so every class spreads over all files and ids
    perm = rng.permutation(len(texts))
    new_id = np.empty(len(texts), dtype=np.int64)
    new_id[perm] = np.arange(len(texts))
    remap = lambda i: int(new_id[i])  # noqa: E731
    ordered = [texts[i] for i in perm]
    table = pa.table({"doc_id": pa.array(np.arange(len(texts)), pa.int64()), "text": pa.array(ordered, pa.string())})
    _write_parquet(table, os.path.join(out_dir, "docs"), n_files)
    return {
        "rows": len(texts),
        "clean": sorted(remap(i) for i in labels["clean"]),
        "exact_dup": [(remap(a), remap(b)) for a, b in labels["exact_dup"]],
        "near_dup": [sorted(remap(i) for i in m) for m in labels["near_dup"]],
        "pii": [(remap(i), s) for i, s in labels["pii"]],
        "must_drop": sorted(remap(i) for i in labels["must_drop"]),
    }


# --- facade records ---------------------------------------------------------------


def facade_records(seed: int, n: int, invalid_frac: float = 0.25) -> tuple:
    """``n`` (kind, record, is_valid) triples: kind is 'flat' or
    'nested'; invalid records break exactly one constraint."""
    rng = np.random.default_rng([seed, 3])
    out = []
    for i in range(n):
        bad = rng.random() < invalid_frac
        defect = int(rng.integers(0, 4))
        name = f"user{int(rng.integers(0, 10**6))}"
        flat = {
            "name": name,
            "email": f"{name}@example.com",
            "age": int(rng.integers(0, 100)),
            "score": float(rng.integers(0, 200)) * 0.5,
            "tags": ["a", f"t{int(rng.integers(0, 9))}"],
            "joined": dt.datetime(2024, 1, 1) + dt.timedelta(minutes=int(rng.integers(0, 10**6))),
        }
        if bad:
            if defect == 0:
                flat["email"] = "not-an-email"
            elif defect == 1:
                flat["age"] = 200
            elif defect == 2:
                flat["score"] = 1.3
            else:
                flat["tags"] = ["a", "a"]
        if i % 2 == 0:
            out.append(("flat", flat, not bad))
        else:
            rec = {"name": name, "age": flat["age"], "address": {"city": "Springfield", "zip": f"{int(rng.integers(0, 10**5)):05d}"}}
            if bad:
                if defect in (0, 1):
                    rec["address"]["zip"] = "12ab"
                else:
                    rec["age"] = -1
            out.append(("nested", rec, not bad))
    return out


def batch_records(seed: int, n: int, invalid_frac: float = 0.25) -> tuple:
    """``n`` flat dicts and their validity labels for
    ``StreamValidator.validate_batch``."""
    recs = facade_records(seed + 7919, 2 * n, invalid_frac)
    flat = [(r, ok) for kind, r, ok in recs if kind == "flat"][:n]
    return [r for r, _ in flat], [ok for _, ok in flat]


STAGES = {
    "transcripts": lambda seed, out: transcripts(seed, out, N_CONV),
    "corpus": lambda seed, out: corpus(seed, out, N_DOCS),
    "facade": lambda seed, out: {
        "records": facade_records(seed, N_RECORDS),
        "batch": batch_records(seed, BATCH),
    },
}


def labels_path(out_dir: str, kind: str) -> str:
    return os.path.join(out_dir, f"{kind}-labels.pkl")


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description="Write one workload's seeded inputs and labels.")
    p.add_argument("kind", choices=sorted(STAGES))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--out", required=True)
    args = p.parse_args(argv)
    os.makedirs(args.out, exist_ok=True)
    labels = STAGES[args.kind](args.seed, args.out)
    with open(labels_path(args.out, args.kind), "wb") as f:
        pickle.dump(labels, f)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
