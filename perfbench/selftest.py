#!/usr/bin/env python3
"""Show that each output check catches a planted fault.

Run from the root of a checkout after one benchmark run of each workload (any
seed). For every workload it copies that run's outputs, confirms the check
passes on the copy, then corrupts a fresh copy once per fault and confirms the
check fails on each:

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 2
    python3 perfbench/run.py --workload curate --seed 1 --seconds 2
    python3 perfbench/run.py --workload near_dup --seed 1 --seconds 2
    python3 perfbench/selftest.py
"""

import glob
import gzip
import json
import os
import pickle
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402


def _rewrite_gz(path, edit):
    with gzip.open(path, "rt", encoding="utf-8") as f:
        lines = f.readlines()
    with gzip.open(path, "wt", encoding="utf-8") as f:
        f.writelines(edit(lines))


def _zinc_batches(work):
    return sorted(glob.glob(os.path.join(work, "out", "zinc", "zinc-batch-*.jsonl.gz")))


def drop_record(work, facts):
    _rewrite_gz(_zinc_batches(work)[0], lambda ls: ls[1:])


def duplicate_record(work, facts):
    b = _zinc_batches(work)
    with gzip.open(b[0], "rt", encoding="utf-8") as f:
        first = f.readline()
    _rewrite_gz(b[-1], lambda ls: ls + [first])


def batch_gap(work, facts):
    last = _zinc_batches(work)[-1]
    n = int(last[-15:-9])
    os.rename(last, last[:-15] + f"{n + 1:06d}" + last[-9:])


def leak_malformed(work, facts):
    bad = {"source": "pubchem", "identifier": "", "smiles": "", "metadata": {}}
    path = sorted(glob.glob(os.path.join(work, "out", "pubchem", "*.jsonl.gz")))[0]
    _rewrite_gz(path, lambda ls: ls + [json.dumps(bad) + "\n"])


def _parts(work, name):
    return sorted(glob.glob(os.path.join(work, "out", name, "part-*")))


def _edit_rows(paths, edit):
    """Apply `edit` to the JSON rows of the first part file that has any."""
    for p in paths:
        with open(p, encoding="utf-8") as f:
            rows = [json.loads(line) for line in f if line.strip()]
        if rows:
            with open(p, "w", encoding="utf-8") as f:
                f.writelines(json.dumps(r) + "\n" for r in edit(rows))
            return
    raise RuntimeError("no rows to corrupt")


def wrong_keeper(work, facts):
    multi = {b for b, g in facts["groups"].items() if g["n"] >= 2}
    other = sorted(g["keeper"] for g in facts["groups"].values())[-1]

    def edit(rows):
        for r in rows:
            if r.get("norm") in multi and r["keeper"] != other:
                r["keeper"] = other
                break
        return rows
    _edit_rows(sorted(glob.glob(os.path.join(work, "out", "part-*"))), edit)


def _unique_doc(facts):
    """A doc whose every smaller-id doc is far below the near-dup threshold."""
    sets = {i: set(t.split(" ")) for i, (_, t) in facts["docs"].items()}
    for b in sorted(sets)[1:]:
        if all(len(sets[a] & sets[b]) / len(sets[a] | sets[b]) < 0.5 for a in range(b)):
            return b


def drop_unique_doc(work, facts):
    """Drop a survivor with no near duplicate: a pair below the threshold."""
    b = _unique_doc(facts)
    _edit_rows(_parts(work, "survivors"), lambda rows: [r for r in rows if r["doc_id"] != b])


def keep_all_docs(work, facts):
    """Survivors hold every document: no near duplicate was dropped."""
    lines = [json.dumps({"doc_id": i}) + "\n" for i in sorted(facts["docs"])]
    for p in _parts(work, "survivors"):
        os.remove(p)
    with open(os.path.join(work, "out", "survivors", "part-00000.json"), "w") as f:
        f.writelines(lines)


def keep_sure_pair(work, facts):
    """Survivors regain the larger doc of a planted edited pair that
    independent MinHash rows would miss with probability below 1e-6."""
    toks = {i: t.split(" ") for i, (_, t) in facts["docs"].items()}
    kept = {r["doc_id"] for p in _parts(work, "survivors") for r in check._json_lines([p])}
    for a, b in facts["text_pairs"]:
        s = check._jaccard(check._shingles(toks[a]), check._shingles(toks[b]))
        if ((a, b) not in facts["exact_pairs"] and b not in kept and (1 - s ** 4) ** 8 < 1e-6
                and check._jaccard(set(toks[a]), set(toks[b])) >= 0.8 + 1e-9):
            _edit_rows(_parts(work, "survivors"), lambda rows: rows + [{"doc_id": b}])
            return
    raise RuntimeError("no found edited pair to un-find")


def low_vector_pair(work, facts):
    _edit_rows(_parts(work, "vec_pairs"), lambda rows: rows + [{"id1": 0, "id2": 1, "sim": 0.99}])


FAULTS = {
    "ingest": [drop_record, duplicate_record, batch_gap, leak_malformed],
    "curate": [wrong_keeper],
    "near_dup": [drop_unique_doc, keep_all_docs, keep_sure_pair, low_vector_pair],
}


def main():
    bb = os.path.join(os.getcwd(), ".bench_build")
    ok = True
    for w, faults in FAULTS.items():
        src = os.path.join(bb, "work", w)
        try:
            with open(os.path.join(bb, "inputs", w, "facts.pickle"), "rb") as f:
                facts = pickle.load(f)
        except OSError:
            print(f"{w}: no run to test; run the benchmark on it first")
            ok = False
            continue
        for fault in [None] + faults:
            name = fault.__name__ if fault else "untouched"
            dst = os.path.join(bb, "selftest", f"{w}-{name}")
            shutil.rmtree(dst, ignore_errors=True)
            shutil.copytree(src, dst)
            if fault:
                fault(dst, facts)
            errs = check.CHECKS[w](dst, facts)
            passed = bool(errs) == (fault is not None)
            ok = ok and passed
            print(f"{w:9s} {name:17s} {'caught' if errs else 'clean':7s} "
                  f"{'ok' if passed else 'WRONG'}  {errs[0][:100] if errs else ''}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
