"""Output checks: the DuckDB oracle compare of graft.Verify's dump, an
independent model of the reference inverted index, and the curation run's
manifest, doc-fate invariants and artifact digest."""
import glob
import hashlib
import json
import os
import re
import subprocess
import sys

import pyarrow.parquet as pq

WORD = re.compile(r"^[a-z0-9]+")
PART = re.compile(r"^[^=/]+=[^/]*$")


def compare(root, verify_dir, inputs, queries, timeout):
    """tools/compare.py over the Verify dump: query -> (passed, line)."""
    proc = subprocess.run(
        [sys.executable, os.path.join(root, "tools", "compare.py"),
         verify_dir, inputs] + list(queries),
        capture_output=True, text=True, timeout=max(timeout, 1))
    out = {}
    for line in proc.stdout.splitlines():
        name, _, rest = line.partition(": ")
        if name in queries:
            out[name] = (rest.startswith("PASS"), line)
    return {q: out.get(q, (False, f"{q}: no compare result")) for q in queries}


def rows_digest(table):
    """sha256 over a table's rows in order, columns sorted by name."""
    cols = sorted(table.column_names)
    h = hashlib.sha256()
    for row in table.select(cols).to_pylist():
        h.update(repr([row[c] for c in cols]).encode())
    return h.hexdigest()


def verify_output(verify_dir, query):
    """(row count, digest) of one query's Verify dump, or None."""
    files = sorted(glob.glob(os.path.join(verify_dir, query, "*.parquet")))
    if not files:
        return None
    t = pq.read_table(files)
    return t.num_rows, rows_digest(t)


def reference_index(ref_dir):
    """Model of InvertedIndex.referenceIndex: each line lowercased and cut
    to its leading [a-z0-9]+ run (empty lines dropped); postings per word
    ordered by (file number, file name, line number); words in order."""
    files = [os.path.basename(p) for p in glob.glob(os.path.join(ref_dir, "*.txt"))]
    order = sorted(files, key=lambda f: (int(re.search(r"\d+", f).group()), f))
    postings = {}
    for f in order:
        with open(os.path.join(ref_dir, f), encoding="utf-8", newline="") as fh:
            data = fh.read()
        lines = data.split("\n")
        if lines and lines[-1] == "":
            lines.pop()
        for n, line in enumerate(lines, 1):
            m = WORD.match(line.rstrip("\r").lower())
            if m:
                postings.setdefault(m.group(), []).append(f"({f}: {n})")
    return [f"{w}\t{len(p)}\t{', '.join(p)}" for w, p in sorted(postings.items())]


def committed(out_dir):
    """The directory a curation run published (its `_COMMITTED` version)."""
    with open(os.path.join(out_dir, "_COMMITTED")) as f:
        return os.path.join(out_dir, "_versions", f.read().strip())


def artifact_digest(out_dir):
    """Digest of a curation run's published artifact set: per dataset
    (parquet files grouped by directory, hive partition values folded into
    their rows), the sorted rows."""
    version = committed(out_dir)
    datasets = {}
    for path in glob.glob(os.path.join(version, "**", "*.parquet"), recursive=True):
        parts = os.path.relpath(os.path.dirname(path), version).split(os.sep)
        key = "/".join(p for p in parts if not PART.match(p))
        kv = sorted(tuple(p.split("=", 1)) for p in parts if PART.match(p))
        t = pq.read_table(path, partitioning=None)
        cols = sorted(t.column_names)
        rows = datasets.setdefault(key, [])
        for r in t.select(cols).to_pylist():
            rows.append(repr(kv + [(c, r[c]) for c in cols]))
    h = hashlib.sha256()
    for key in sorted(datasets):
        h.update(key.encode() + b"\0")
        for r in sorted(datasets[key]):
            h.update(r.encode() + b"\n")
    return h.hexdigest()


def curation_problems(out_dir, manifest, funnel):
    """Problems with one curation run: its manifest against q88's funnel
    (the first six rows), and the doc-fate invariants."""
    problems = []
    manifest = sorted(manifest, key=lambda r: r[0])
    if [list(r) for r in manifest[:6]] != funnel:
        problems.append(f"manifest head {manifest[:6]} != q88 {funnel}")
    if [r[0] for r in manifest] != list(range(len(manifest))):
        problems.append("manifest stage_idx is not 0..n-1")
    docs = [r[2] for r in manifest]
    if any(b > a for a, b in zip(docs, docs[1:])):
        problems.append(f"manifest docs increase: {docs}")
    fates = pq.read_table(
        os.path.join(committed(out_dir), "verdicts", "doc_fates")).to_pylist()
    ids = [r["doc_id"] for r in fates]
    if len(set(ids)) != len(ids):
        problems.append("doc_fates has repeated doc_ids")
    names = {r[0]: r[1] for r in manifest}
    if any(names.get(r["last_stage_idx"]) != r["last_stage"] for r in fates):
        problems.append("doc_fates stage names disagree with the manifest")
    for idx, _, n, _ in manifest:
        reached = sum(1 for r in fates if r["last_stage_idx"] >= idx)
        if reached != n:
            problems.append(f"stage {idx}: {reached} fates reach it, manifest says {n}")
    return problems


def _load(path):
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        return json.load(f)


def _save(path, value):
    with open(path, "w") as f:
        json.dump(value, f)


def queries(root, vdir, inputs, names, cache_path, timeout):
    """Verify's dump of each oracle-backed query: compared with the DuckDB
    oracle once per input (the compare is the slow part; its verdicts and
    row digests are cached under the inputs' digest), then each run's dump
    against the cached digest. q88's oracle is too slow to use; its dump
    only feeds the curation check. query -> (ok, rows, note)."""
    compared = [q for q in names if q != "q88_curation_funnel"]
    cache = _load(cache_path)
    todo = [q for q in compared if q not in cache]
    failures = {}
    if todo:
        for q, (ok, line) in compare(root, vdir, inputs, todo, timeout).items():
            out = verify_output(vdir, q)
            if ok and out:
                cache[q] = {"rows": out[0], "digest": out[1]}
            else:
                failures[q] = line
        _save(cache_path, cache)
    result = {}
    for q in compared:
        out = verify_output(vdir, q)
        if q not in cache or out is None:
            result[q] = (False, -1, failures.get(q, "no verified output"))
        elif out[1] != cache[q]["digest"]:
            result[q] = (False, out[0], "output differs from the verified one")
        else:
            result[q] = (True, out[0], "")
    return result


def reference(ref_dir, tsv):
    """The engine's reference index (a TSV dump) against the model."""
    model = reference_index(ref_dir)
    with open(tsv, encoding="utf-8") as f:
        ok = f.read().splitlines() == model
    return ok, len(model), "" if ok else "differs from the model"


def curation(runs_dir, vdir, manifests, cache_path):
    """Every curation run of this process (tag -> manifest) against q88's
    dump, the doc-fate invariants, and one artifact digest shared by all
    runs and by earlier runs of the same input."""
    files = glob.glob(os.path.join(vdir, "q88_curation_funnel", "*.parquet"))
    funnel = sorted([r["stage_idx"], r["stage"], r["docs"], r["tokens"]]
                    for r in pq.read_table(files).to_pylist()) if files else None
    problems = [] if funnel else ["q88 dump missing"]
    digests = set()
    for tag, manifest in manifests.items():
        out_dir = os.path.join(runs_dir, tag)
        problems += [f"{tag}: {p}" for p in
                     curation_problems(out_dir, manifest, funnel)]
        digests.add(artifact_digest(out_dir))
    known = _load(cache_path).get("digest")
    if known:
        digests.add(known)
    elif len(digests) == 1:
        _save(cache_path, {"digest": next(iter(digests))})
    if len(digests) > 1:
        problems.append(f"artifact digests differ: {sorted(digests)}")
    rows = len(next(iter(manifests.values())))
    return not problems, rows, "; ".join(problems)
