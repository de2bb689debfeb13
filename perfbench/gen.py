"""Seeded input generators for the three benchmark workloads.

Each generator writes plain-text files into one directory and returns a
dict of facts the harness checks the program's outputs against (planted
duplicate counts, expected aggregates). The program under test only ever
sees the files; the same seed gives byte-identical files.
"""
import hashlib
import os

import numpy as np

# Stream ids keep the three workloads' random streams independent, so a
# change to one generator never shifts another workload's inputs.
_STREAM = {"paper_pipeline": 1, "lakehouse_sql": 2, "curation_dedup": 3}

# paper_pipeline: MovieLens-1M's shape (users x movies x genres). The
# rating density is scaled so one pass fits the benchmark's run budget;
# see PIPELINE in perfbench/baseline_map.json for the stated shape.
N_USERS = 6000
N_MOVIES = 3700
RATING_DENSITY = 0.012
# Each movie draws 4-6 genres from its group's 6-genre slice, so the three
# groups separate cleanly: with 1-3 genres a single KMeans fit at k = 3
# sometimes settles in a local optimum and the SSE elbow lands on k = 4.
GENRES_PER_MOVIE = (4, 6)
GENRES = [
    "Action", "Adventure", "Animation", "Children's", "Comedy", "Crime",
    "Documentary", "Drama", "Fantasy", "Film-Noir", "Horror", "Musical",
    "Mystery", "Romance", "Sci-Fi", "Thriller", "War", "Western"]

# lakehouse_sql: initial table size, key-range widths and the statement
# cycle, the unit a pass is timed over: reads and writes in seeded order,
# then a compaction. More cycles than any run consumes.
LAKE_ROWS = 20000
LAKE_CYCLES = 100
LAKE_CYCLE = (["point"] * 3 + ["scan"] * 2 +
              ["insert", "update", "delete", "merge"])
LAKE_BATCH = 40         # rows per INSERT / MERGE source
LAKE_RANGE = 60         # keys per UPDATE / DELETE range
LAKE_POINT = 10         # keys per point read

# curation_dedup: corpus size and planted duplicate families.
DOCS_BASE = 4000
VOCAB = 6000
DOC_TOKENS = (40, 70)
LANGS = ["de", "en", "fr"]
P_EXACT = 0.08   # share of base docs that get 1-2 byte-identical copies
P_CASE = 0.08    # ... that get a case/punctuation variant
P_NEAR = 0.10    # ... that get a near-duplicate (one token replaced)


def _rng(workload, seed):
    return np.random.default_rng([_STREAM[workload], int(seed)])


def _write(path, lines):
    with open(path, "w", encoding="ascii", newline="\n") as f:
        f.write("\n".join(lines))
        f.write("\n")


def _movie_offset(m):
    # per-movie quality offset in {-1,-0.5,0,0.5,1}: the item-level
    # signal the cluster-average predictor pools away and ALS recovers
    return (((m * 2654435761) >> 16) % 5 - 2) / 2.0


def gen_paper_pipeline(seed, out):
    """MovieLens `::` files with 3 latent genre groups (best k = 3) and
    ratings = group affinity + per-movie offset + noise, so ALS beats the
    cluster-average predictor by a margin."""
    rng = _rng("paper_pipeline", seed)
    movies = []
    for m in range(1, N_MOVIES + 1):
        g = m % 3
        pool = GENRES[g * 6:g * 6 + 6]
        lo, hi = GENRES_PER_MOVIE
        k = lo + int(rng.integers(hi - lo + 1))
        gs = sorted(rng.choice(pool, size=k, replace=False).tolist())
        movies.append(f"{m}::Movie {m} (199{m % 10})::{'|'.join(gs)}")
    _write(os.path.join(out, "movies.dat"), movies)
    mids = np.arange(1, N_MOVIES + 1)
    offset = np.array([_movie_offset(int(m)) for m in mids])
    lines = []
    for u in range(1, N_USERS + 1):
        rated = mids[rng.random(N_MOVIES) < RATING_DENSITY]
        affinity = np.where(rated % 3 == u % 3, 4.0, 2.0)
        noise = rng.integers(-1, 2, size=rated.size)
        r = np.clip(np.floor(affinity + offset[rated - 1] + noise + 0.5), 1, 5)
        ts = 978300000 + rng.integers(0, 10 ** 6, size=rated.size)
        lines.extend(f"{u}::{m}::{int(x)}::{t}"
                     for m, x, t in zip(rated.tolist(), r.tolist(), ts.tolist()))
    _write(os.path.join(out, "ratings.dat"), lines)
    return {"movies": N_MOVIES, "users": N_USERS, "ratings": len(lines),
            "planted_k": 3}


def gen_lakehouse_sql(seed, out):
    """Initial rows plus a statement stream. Every read carries the
    answer an in-memory key -> value model of all prior statements
    implies, so the harness checks each read as it runs."""
    rng = _rng("lakehouse_sql", seed)
    cap = LAKE_ROWS + LAKE_CYCLES * 2 * LAKE_BATCH + 1
    val = np.zeros(cap, dtype=np.int64)
    live = np.zeros(cap, dtype=bool)
    val[:LAKE_ROWS] = rng.integers(0, 1000, size=LAKE_ROWS)
    live[:LAKE_ROWS] = True
    _write(os.path.join(out, "seed_rows.csv"),
           [f"{k},{v}" for k, v in enumerate(val[:LAKE_ROWS].tolist())])
    next_key = LAKE_ROWS
    ops = []
    for c in range(LAKE_CYCLES):
        for op in rng.permutation(LAKE_CYCLE).tolist():
            if op == "insert":
                ks = np.arange(next_key, next_key + LAKE_BATCH)
                next_key += LAKE_BATCH
                vs = rng.integers(0, 1000, size=LAKE_BATCH)
                val[ks] = vs
                live[ks] = True
                ops.append("insert\t" + ",".join(
                    f"{k}:{v}" for k, v in zip(ks.tolist(), vs.tolist())))
            elif op == "merge":
                old = rng.choice(next_key, size=LAKE_BATCH // 2, replace=False)
                new = np.arange(next_key, next_key + LAKE_BATCH // 2)
                next_key += LAKE_BATCH // 2
                ks = np.sort(np.concatenate([old, new]))
                vs = rng.integers(0, 1000, size=ks.size)
                val[ks] = vs
                live[ks] = True
                ops.append("merge\t" + ",".join(
                    f"{k}:{v}" for k, v in zip(ks.tolist(), vs.tolist())))
            elif op in ("update", "delete"):
                lo = int(rng.integers(0, next_key - LAKE_RANGE))
                hi = lo + LAKE_RANGE - 1
                if op == "update":
                    d = int(rng.integers(1, 50))
                    val[lo:hi + 1] += d
                    ops.append(f"update\t{lo}\t{hi}\t{d}")
                else:
                    live[lo:hi + 1] = False
                    ops.append(f"delete\t{lo}\t{hi}")
            elif op == "point":
                lo = int(rng.integers(0, next_key - LAKE_POINT))
                hi = lo + LAKE_POINT - 1
                sl = live[lo:hi + 1]
                ops.append(f"point\t{lo}\t{hi}\t{int(sl.sum())}\t"
                           f"{int(val[lo:hi + 1][sl].sum())}")
            else:  # scan: count(*) and sum(v) of the whole table
                ops.append(f"scan\t{int(live.sum())}\t{int(val[live].sum())}")
        ops.append("compact")
    _write(os.path.join(out, "ops.tsv"), ops)
    return {"seed_rows": LAKE_ROWS, "statements": len(ops),
            "key_cap": cap, "cycle": len(LAKE_CYCLE) + 1}


def _normalize(text):
    # mirrors Dedup.normalizeText: lower, non [a-z0-9 ] -> space,
    # collapse spaces, trim
    out = "".join(c if ("a" <= c <= "z" or "0" <= c <= "9" or c == " ")
                  else " " for c in text.lower())
    return " ".join(t for t in out.split(" ") if t)


def gen_curation_dedup(seed, out):
    """Documents with planted exact copies, case/punctuation variants and
    one-token near duplicates. Expected dedup counts come from the
    planted families, recomputed here over the normalized text."""
    rng = _rng("curation_dedup", seed)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words, seen = [], set()
    while len(words) < VOCAB:
        w = "".join(rng.choice(letters, size=int(rng.integers(3, 9))).tolist())
        if w not in seen:
            seen.add(w)
            words.append(w)
    puncts = [",", ".", "!", ";", "?"]
    docs = []  # (lang, text)
    near_pairs = []
    n_exact = n_case = 0
    for _ in range(DOCS_BASE):
        lang = LANGS[int(rng.integers(len(LANGS)))]
        toks = [words[i] for i in
                rng.integers(0, VOCAB, size=int(rng.integers(*DOC_TOKENS))).tolist()]
        base = " ".join(toks)
        base_id = len(docs)
        docs.append((lang, base))
        if rng.random() < P_EXACT:
            for _ in range(1 + int(rng.integers(2))):
                docs.append((lang, base))
                n_exact += 1
        if rng.random() < P_CASE:
            var = [t.upper() if rng.random() < 0.3 else t for t in toks]
            var = [t + puncts[int(rng.integers(len(puncts)))]
                   if rng.random() < 0.2 else t for t in var]
            var[0] = var[0].capitalize() if var[0].islower() else var[0]
            text = " ".join(var)
            if text == base:
                text = base + "."
            docs.append((lang, text))
            n_case += 1
        if rng.random() < P_NEAR:
            pos = int(rng.integers(len(toks)))
            var = list(toks)
            var[pos] = words[(words.index(toks[pos]) + 1 + int(rng.integers(VOCAB - 1))) % VOCAB]
            near_pairs.append((base_id, len(docs)))
            docs.append((lang, " ".join(var)))
    _write(os.path.join(out, "documents.tsv"),
           [f"{i}\t{lang}\t{text}" for i, (lang, text) in enumerate(docs)])
    _write(os.path.join(out, "near_pairs.tsv"),
           [f"{a}\t{b}" for a, b in near_pairs])
    distinct = len({t for _, t in docs})
    norm_groups = {}
    for lang, t in docs:
        key = (lang, _normalize(t))
        norm_groups[key] = norm_groups.get(key, 0) + 1
    return {"docs": len(docs), "exact_redundant": len(docs) - distinct,
            "planted_exact_copies": n_exact,
            "planted_case_variants": n_case,
            "norm_redundant": sum(n - 1 for n in norm_groups.values()),
            "norm_chars": sum(len(k[1]) * n for k, n in norm_groups.items()),
            "near_pairs": len(near_pairs)}


GENERATORS = {"paper_pipeline": gen_paper_pipeline,
              "lakehouse_sql": gen_lakehouse_sql,
              "curation_dedup": gen_curation_dedup}


def generate(workload, seed, out):
    """Write the workload's inputs into `out`; return (facts, sha256)."""
    os.makedirs(out, exist_ok=True)
    facts = GENERATORS[workload](seed, out)
    return facts, checksum(out)


def checksum(directory):
    h = hashlib.sha256()
    for name in sorted(os.listdir(directory)):
        h.update(name.encode())
        with open(os.path.join(directory, name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()
