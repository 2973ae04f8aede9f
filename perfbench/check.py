"""Output checks, each computed apart from the program.

A check returns a list of error strings; an empty list means the output is
correct. The inputs are the facts the generator planted (gen.py) and the files
a pass left behind, read with plain gzip/JSON readers and recomputed here in
Python and numpy.
"""

import glob
import gzip
import hashlib
import json
import os
import re

import numpy as np

import gen


def _json_lines(paths):
    for p in paths:
        opener = gzip.open if p.endswith(".gz") else open
        with opener(p, "rt", encoding="utf-8") as f:
            for line in f:
                if line.strip():
                    yield json.loads(line)


def _parts(d):
    return sorted(glob.glob(os.path.join(d, "part-*")))


# --------------------------------------------------------------- ingest ----

BATCH_RE = re.compile(r"^(\w+)-batch-(\d{6})\.jsonl\.gz$")


def check_ingest(work, facts):
    """Batches, provenance, checkpoints and report of one ingest pass."""
    c = gen.INGEST
    errs = []
    out = os.path.join(work, "out")
    with open(os.path.join(work, "job.yaml"), "rb") as f:
        want_hash = hashlib.md5(f.read()).hexdigest()
    got = []
    for src in facts["files"]:
        d = os.path.join(out, src)
        names = sorted(n for n in os.listdir(d) if not n.startswith(".")) if os.path.isdir(d) else []
        numbers = []
        for name in names:
            m = BATCH_RE.match(name)
            if not m or m.group(1) != src:
                errs.append(f"{src}: unexpected file {name}")
                continue
            numbers.append(int(m.group(2)))
            recs = list(_json_lines([os.path.join(d, name)]))
            if len(recs) > c["batch_size"]:
                errs.append(f"{src}/{name}: {len(recs)} records > batch_size {c['batch_size']}")
            for r in recs:
                got.append((r.get("source"), r.get("identifier"), r.get("smiles")))
                h = (r.get("metadata") or {}).get("_prov_config_hash")
                if h != want_hash:
                    errs.append(f"{src}/{name}: _prov_config_hash {h} != md5 of job yaml")
                    break
        if numbers != list(range(1, len(numbers) + 1)):
            errs.append(f"{src}: batch numbers {numbers[:5]}... do not run 1..{len(numbers)}")
        cp_path = os.path.join(work, "ckpt", "ingestion-parse", f"{src}.json")
        try:
            with open(cp_path, encoding="utf-8") as f:
                cp = json.load(f)
            if cp.get("completed") is not True:
                errs.append(f"{src}: checkpoint not completed")
            if cp.get("batch_index") != len(numbers):
                errs.append(f"{src}: checkpoint batch_index {cp.get('batch_index')} != {len(numbers)} batches")
        except (OSError, ValueError) as e:
            errs.append(f"{src}: no readable checkpoint ({e})")
    want = sorted(facts["good"])
    got.sort()
    if got != want:
        gs, ws = set(got), set(want)
        errs.append(f"records: {len(got)} read back vs {len(want)} well-formed; "
                    f"{len(ws - gs)} missing, {len(gs - ws)} unexpected, "
                    f"{len(got) - len(gs)} duplicated")
    try:
        with open(os.path.join(out, "raw-data-report.md"), encoding="utf-8") as f:
            report = f.read()
        for src, n in facts["counts"].items():
            row = re.search(rf"^\| {src} \| \w+ \| yes \| \d+ \| \d+ \| (\d+) \|$", report, re.M)
            if not row or int(row.group(1)) != n:
                errs.append(f"report: {src} total {row.group(1) if row else None} != {n}")
    except OSError as e:
        errs.append(f"report missing ({e})")
    return errs


# --------------------------------------------------------------- curate ----

def check_curate(work, facts):
    """Groups, keepers, counts and weights of the curation query."""
    errs = []
    rows = list(_json_lines(_parts(os.path.join(work, "out"))))
    invalid = [r for r in rows if r.get("norm") is None]
    groups = {r["norm"]: r for r in rows if r.get("norm") is not None}
    if len(groups) + len(invalid) != len(rows):
        errs.append("duplicate groups in the output")
    n_inv = sum(r["n_members"] for r in invalid)
    if n_inv != facts["n_invalid"]:
        errs.append(f"invalid count {n_inv} != planted {facts['n_invalid']}")
    n_val = sum(r["n_members"] for r in groups.values())
    if n_val != facts["n_valid"]:
        errs.append(f"valid count {n_val} != planted {facts['n_valid']}")
    want = facts["groups"]
    if set(groups) != set(want):
        errs.append(f"groups: {len(groups)} found vs {len(want)} planted; "
                    f"{len(set(want) - set(groups))} missing, {len(set(groups) - set(want))} unexpected")
    for base, w in want.items():
        g = groups.get(base)
        if g is None:
            continue
        if g["n_members"] != w["n"]:
            errs.append(f"{base}: {g['n_members']} members != {w['n']}")
        if g["keeper"] != w["keeper"]:
            errs.append(f"{base}: keeper {g['keeper']} != smallest identifier {w['keeper']}")
        for k in ("mw_min", "mw_max"):
            if g.get(k) is None or abs(g[k] - w["mw"]) > 1e-6:
                errs.append(f"{base}: {k} {g.get(k)} != atomic-mass sum {w['mw']:.6f}")
        if not g.get("fp_min") or g.get("fp_min") != g.get("fp_max"):
            errs.append(f"{base}: fingerprint sizes {g.get('fp_min')}..{g.get('fp_max')} differ within a group")
        if len(errs) > 20:
            break
    return errs


# ------------------------------------------------------------- near_dup ----

def _shingles(tokens, n=3):
    if len(tokens) < n:
        return {" ".join(tokens)}
    return {" ".join(tokens[i:i + n]) for i in range(len(tokens) - n + 1)}


def _jaccard(a, b):
    u = len(a | b)
    return len(a & b) / u if u else 0.0


def _sign_keys(vecs, bits, bands):
    w = 1 << np.arange(bits, dtype=np.int64)
    return np.stack([((vecs[:, b * bits:(b + 1) * bits] >= 0) * w).sum(axis=1)
                     for b in range(bands)], axis=1)


def check_near_dup(work, facts):
    """Pairs, survivors and the overlap matrix of the three pair operators."""
    c = gen.NEAR_DUP
    errs = []
    out = os.path.join(work, "out")
    docs = facts["docs"]
    toks = {i: t.split(" ") for i, (_, t) in docs.items()}

    # Dedup.nearDupes drops the larger id of every verified pair: each
    # dropped doc must have a smaller-id doc at token Jaccard >= threshold
    survivors = [r["doc_id"] for r in _json_lines(_parts(os.path.join(out, "survivors")))]
    dropped = set(docs) - set(survivors)
    if len(set(survivors)) != len(survivors) or not set(survivors) <= set(docs):
        errs.append("survivors: duplicated or unknown doc ids")
    sets = {i: set(t) for i, t in toks.items()}
    postings = {}
    for i, s in sets.items():
        for t in s:
            postings.setdefault(t, []).append(i)
    thr = c["text_threshold"]
    for d in sorted(dropped):
        # a doc at Jaccard >= thr holds more than (1 - thr) of d's tokens, so
        # it holds one of any floor((1 - thr) * |d|) + 1 of them: the rarest
        rare = sorted(sets[d], key=lambda t: len(postings[t]))[:int((1 - thr) * len(sets[d])) + 1]
        cands = {c_ for t in rare for c_ in postings[t] if c_ < d}
        best = max((_jaccard(sets[d], sets[c_]) for c_ in cands), default=0.0)
        if best < thr - 1e-12:
            errs.append(f"doc {d} dropped as a near duplicate, but its best smaller-id "
                        f"match has token Jaccard {best:.4f} < {thr}")
            break
    # Recall. An exact copy has the same shingles, hence the same band keys
    # whatever the hash, so the larger id of every planted exact pair must be
    # dropped. A planted pair at token Jaccard >= threshold whose miss
    # probability (1 - s^r)^bands under independent MinHash rows is below
    # 1e-6 (s = shingle Jaccard) must be found too.
    for a, b in facts["exact_pairs"]:
        if b not in dropped:
            errs.append(f"planted exact copies ({a}, {b}) were not deduplicated: {b} survived")
            break
    r, bands = c["rows_per_band"], c["bands"]
    for a, b in facts["text_pairs"]:
        s = _jaccard(_shingles(toks[a]), _shingles(toks[b]))
        if (1 - s ** r) ** bands < 1e-6 and _jaccard(sets[a], sets[b]) >= thr + 1e-9 \
                and b not in dropped:
            errs.append(f"planted pair ({a}, {b}) at shingle Jaccard {s:.3f} (miss probability "
                        f"{(1 - s ** r) ** bands:.1e} under independent rows) was not found")
            break

    vecs = facts["vecs"]
    norms = np.linalg.norm(vecs, axis=1)

    def cos(a, b):
        return float(vecs[a] @ vecs[b] / (norms[a] * norms[b]))

    vpairs = list(_json_lines(_parts(os.path.join(out, "vec_pairs"))))
    vfound = {(p["id1"], p["id2"]) for p in vpairs}
    if len(vfound) != len(vpairs):
        errs.append("vector pairs: duplicates")
    for p in vpairs:
        s = cos(p["id1"], p["id2"])
        if s <= c["vec_threshold"] - 1e-9 or abs(p["sim"] - s) > 1e-4 or not p["id1"] < p["id2"]:
            errs.append(f"vector pair ({p['id1']}, {p['id2']}): cosine {s:.4f}, reported {p['sim']}")
            break
    keys = _sign_keys(vecs, c["vec_bits"], c["vec_bands"])
    for a, b in facts["vec_pairs"]:
        if (a, b) not in vfound and cos(a, b) > c["vec_threshold"] + 1e-9 and (keys[a] == keys[b]).any():
            errs.append(f"planted vector pair ({a}, {b}) shares a band key but was missed")
            break

    sets = {}
    for i, (src, _) in docs.items():
        sets.setdefault(src, set()).update(_shingles(toks[i]))
    want = {}
    names = sorted(sets)
    for x in names:
        for y in names:
            if x < y:
                inter = len(sets[x] & sets[y])
                union = len(sets[x]) + len(sets[y]) - inter
                want[(x, y)] = (inter, union, inter * 1000000 // union)
    got = {(r["src1"], r["src2"]): (r["n_inter"], r["n_union"], r["jaccard_e6"])
           for r in _json_lines(_parts(os.path.join(out, "overlap")))}
    if got != want:
        bad = [k for k in want if got.get(k) != want[k]][:3]
        errs.append(f"overlap matrix differs from the set computation at {bad} "
                    f"({len(got)} rows vs {len(want)})")
    return errs


CHECKS = {"ingest": check_ingest, "curate": check_curate, "near_dup": check_near_dup}
