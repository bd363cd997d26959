#!/usr/bin/env python3
"""Seeded benchmark inputs.

Usage: python3 perfbench/gen.py <workload> <seed> <out_dir>

Each workload's tables are scaled up from the base fixtures in
perfbench/base/ with the copy/offset scheme of tools/make_sf1.py, called
through its `shift` function rather than re-implemented. The seed decides:

- which copy indices are used (make_sf1 shifts copy i's keys by i * off and
  prefixes each of its documents with the token `c{i}`);
- the key offset `off`, drawn from [OFF, 2 * OFF) so every copy stays far
  above the base key domains;
- a suffix appended to each copy's document token (still one token under
  the engine's `[^a-z0-9]+` tokenizer, so near-duplicate pairs keep the
  Jaccard margin TESTDATA.md describes: both sides of a pair gain the same
  token);
- the row order of every table.

The reference-layout corpus for `InvertedIndex.referenceIndex` (word per
line, 24 numbered files) is drawn from the same seed.

The same seed writes byte-identical files; `inputs.json` in the output
directory records the row counts and a digest over every file.
"""
import hashlib
import importlib.util
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BASE = os.path.join(HERE, "base")


def load_make_sf1():
    path = os.path.join(ROOT, "tools", "make_sf1.py")
    spec = importlib.util.spec_from_file_location("make_sf1", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


make_sf1 = load_make_sf1()

RELATIONAL = ["customer", "supplier", "part", "orders", "lineitem", "events"]

# workload -> {table: copies}; 0 marks a dimension table shared by all
# copies (make_sf1.SHARED). The relational base is the sf0.01 fixture, so
# ten copies give the sf0.1 row counts; documents and embeddings come from
# the sf0.1 fixture, whose near-duplicate structure the dedup and curation
# queries depend on, and are used as one copy.
PLANS = {
    "scan_shuffle": dict({"region": 0, "nation": 0, "documents": 1},
                         **{t: 10 for t in RELATIONAL}),
    "driver_tails": {"documents": 1, "embeddings": 1},
    "curation": {"documents": 1, "embeddings": 1},
}
REF_FILES = 24
REF_LINES = (6000, 10000)
REF_VOCAB = 4000


def copy_token_suffix(rng):
    return "".join(rng.choice(list("abcdefghijklmnopqrstuvwxyz"), 3))


def retoken(table, index, suffix):
    """Append the seeded suffix to make_sf1's per-copy token `c{index}`."""
    text = pc.replace_substring_regex(
        table["text"], pattern=f"^c{index} ",
        replacement=f"c{index}{suffix} ", max_replacements=1)
    table = table.set_column(table.schema.get_field_index("text"), "text", text)
    return table.set_column(
        table.schema.get_field_index("n_chars"), "n_chars",
        pc.cast(pc.utf8_length(text), pa.int64()))


def scale_table(name, copies, first, off, suffixes, rng):
    base = pq.read_table(os.path.join(BASE, f"{name}.parquet"))
    if copies == 0:
        out = base
    else:
        parts = []
        for c in range(copies):
            i = first + c
            t = make_sf1.shift(base, name, i, off)
            if name == "documents":
                t = retoken(t, i, suffixes[c])
            parts.append(t)
        out = pa.concat_tables(parts)
    return out.take(pa.array(rng.permutation(out.num_rows)))


def ref_corpus(rng, out_dir):
    """Word-per-line files in the reference layout: lines are words with
    mixed case, trailing punctuation, CRLF endings and a few blank or
    punctuation-led lines, which the reference normalization drops."""
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz0123456789"))
    weights = np.r_[np.full(26, 1.0), np.full(10, 0.05)]
    weights /= weights.sum()
    vocab = ["".join(rng.choice(letters, rng.integers(2, 10), p=weights))
             for _ in range(REF_VOCAB)]
    zipf = 1.0 / np.arange(1, REF_VOCAB + 1)
    zipf /= zipf.sum()
    os.makedirs(out_dir, exist_ok=True)
    n_lines = 0
    for k in range(1, REF_FILES + 1):
        n = int(rng.integers(*REF_LINES))
        words = rng.choice(REF_VOCAB, n, p=zipf)
        kind = rng.random(n)
        lines = []
        for w, r in zip(words, kind):
            word = vocab[w]
            if r < 0.10:
                word = word.capitalize()
            elif r < 0.15:
                word = word + ","
            elif r < 0.17:
                word = word + "\r"
            elif r < 0.18:
                word = ""
            elif r < 0.19:
                word = "'" + word
            lines.append(word)
        with open(os.path.join(out_dir, f"{k}.txt"), "w", newline="") as f:
            f.write("\n".join(lines) + "\n")
        n_lines += n
    return n_lines


def digest_dir(path):
    h = hashlib.sha256()
    for dirpath, dirnames, filenames in os.walk(path):
        dirnames.sort()
        for fn in sorted(filenames):
            if fn == "inputs.json":
                continue
            p = os.path.join(dirpath, fn)
            h.update(os.path.relpath(p, path).encode() + b"\0")
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def generate(workload, seed, out_dir):
    plan = PLANS[workload]
    rng = np.random.default_rng([seed, sorted(PLANS).index(workload)])
    first = 1 + int(rng.integers(0, 8))
    off = make_sf1.OFF + int(rng.integers(0, make_sf1.OFF))
    suffixes = [copy_token_suffix(rng) for _ in range(max(plan.values()))]
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name in sorted(plan):
        t = scale_table(name, plan[name], first, off, suffixes, rng)
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=make_sf1.ROW_GROUP_ROWS)
        rows[name] = t.num_rows
    if workload == "scan_shuffle":
        rows["ref"] = ref_corpus(rng, os.path.join(out_dir, "ref"))
    meta = {"workload": workload, "seed": seed, "first_copy": first,
            "key_offset": off, "rows": rows,
            "input_rows": sum(rows.values()), "digest": digest_dir(out_dir)}
    with open(os.path.join(out_dir, "inputs.json"), "w") as f:
        json.dump(meta, f, indent=1, sort_keys=True)
    return meta


def main():
    if len(sys.argv) != 4 or sys.argv[1] not in PLANS:
        sys.exit(f"usage: gen.py <{'|'.join(sorted(PLANS))}> <seed> <out_dir>")
    meta = generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])
    print(json.dumps(meta, sort_keys=True))


if __name__ == "__main__":
    main()
