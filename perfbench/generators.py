"""Seeded input generators for the benchmark workloads.

Everything the program sees is built here from the ``--seed`` argument:
the same seed gives byte-identical inputs, so a later change can be
measured on the same inputs and confirmed on a fresh seed.  Nothing
here touches Spark; the workloads turn these plain tuples into frames.

- ``versioned_cells``: a two-family cell table carrying all five cell
  types and several versions per column.
- ``mutation_batch``: one batch of puts, deletes of every kind,
  increments and a check-and-mutate, for ``versioned_rw``'s write op.
- ``doc_corpus``: documents with planted near-duplicate clusters whose
  pairwise 3-gram Jaccard is known exactly.
"""

from __future__ import annotations

import random
import re
from dataclasses import dataclass, field

# Cell type tags (hbase_spark.model.CellType); repeated here so the
# generators stay importable without Spark.
PUT = 4
DELETE = 8
DELETE_FAMILY_VERSION = 10
DELETE_COLUMN = 12
DELETE_FAMILY = 14

# TTL clock of every generated table.  Initial cells carry timestamps
# in [NOW - 10^7, NOW - 2*10^6] ms; mutation batches write above that
# range, so a batch's cells are always the newest of their column.
NOW = 1_700_000_000_000
_TS_LO = NOW - 10_000_000
_TS_HI = NOW - 2_000_000
BATCH_TS0 = NOW - 1_000_000

# Family schema.  f1: MAX_VERSIONS=3 + KEEP_DELETED_CELLS.  f2:
# MAX_VERSIONS=1, a TTL that expires about half the initial f2 cells,
# MIN_VERSIONS=1 (an expired newest version still reads).
F1_QUALS = ("a", "b", "c")
F2_QUALS = ("x", "y")
F2_TTL_MS = 6_000_000
FAMILIES = {
    "f1": {"max_versions": 3, "keep_deleted_cells": True},
    "f2": {"max_versions": 1, "ttl_ms": F2_TTL_MS, "min_versions": 1},
}


def row_key(i: int) -> str:
    return f"r{i:07d}"


def versioned_cells(seed: int, rows: int) -> list[tuple]:
    """Cells ``(row, family, qualifier, ts, type, value, seq)`` of a
    ``rows``-row table.

    Per row: 1-5 versions of each f1 column and 1-3 of each f2 column
    (numeric string values, distinct timestamps per column), then
    tombstones of all four kinds.  Exact-timestamp markers (DELETE,
    DELETE_FAMILY_VERSION) sit on f2 only, at the timestamp of an
    existing version; range markers (DELETE_COLUMN, DELETE_FAMILY) sit
    on f1.  Keeping exact markers off the KEEP_DELETED_CELLS family
    keeps major compaction from changing what a read returns, so
    ``versioned_rw`` can compare reads after compaction against the
    uncompacted model."""
    rng = random.Random(f"cells:{seed}")
    out: list[tuple] = []
    seq = 0
    for i in range(rows):
        rk = row_key(i)
        f2_ts: list[int] = []
        for fam, quals, vmax in (("f1", F1_QUALS, 5), ("f2", F2_QUALS, 3)):
            for q in quals:
                for ts in rng.sample(range(_TS_LO, _TS_HI), rng.randint(1, vmax)):
                    seq += 1
                    out.append((rk, fam, q, ts, PUT, str(rng.randrange(10_000)), seq))
                    if fam == "f2":
                        f2_ts.append(ts)
        if rng.random() < 0.2:
            seq += 1
            q = rng.choice(F1_QUALS)
            out.append((rk, "f1", q, rng.randrange(_TS_LO, _TS_HI), DELETE_COLUMN, None, seq))
        if rng.random() < 0.05:
            seq += 1
            out.append((rk, "f1", None, rng.randrange(_TS_LO, _TS_HI), DELETE_FAMILY, None, seq))
        if rng.random() < 0.2:
            seq += 1
            q = rng.choice(F2_QUALS)
            out.append((rk, "f2", q, rng.choice(f2_ts), DELETE, None, seq))
        if rng.random() < 0.1:
            seq += 1
            out.append((rk, "f2", None, rng.choice(f2_ts), DELETE_FAMILY_VERSION, None, seq))
    return out


@dataclass
class MutationBatch:
    """One client batch.  Every timestamp is the batch's own ``ts``
    (increments at ts+1, check-and-mutate at ts+2), above every earlier
    cell; ``seq`` values are distinct per call."""

    ts: int
    seq0: int
    puts: list[tuple] = field(default_factory=list)  # (row, fam, qual, value)
    deletes: dict[int, list[tuple]] = field(default_factory=dict)  # kind -> (row, fam, qual)
    increments: list[tuple] = field(default_factory=list)  # (row, fam, qual, delta)
    cam_rows: list[str] = field(default_factory=list)  # check-and-mutate rows
    cam_value: str = ""

    def touched_rows(self) -> list[str]:
        rows = {p[0] for p in self.puts}
        for dels in self.deletes.values():
            rows.update(d[0] for d in dels)
        rows.update(d[0] for d in self.increments)
        rows.update(self.cam_rows)
        return sorted(rows)


# Rows one mutation batch puts to.
BATCH_PUTS = 200


def mutation_batch(seed: int, b: int, rows: int) -> MutationBatch:
    """Write batch ``b`` over a ``rows``-row table.

    ``BATCH_PUTS`` rows get f1:a, f1:b and f2:x; a tenth of them are new
    rows past the initial key range.  Exact-timestamp deletes target only
    this batch's own puts (see ``versioned_cells`` for why)."""
    rng = random.Random(f"batch:{seed}:{b}")
    ts = BATCH_TS0 + 10 * b
    mb = MutationBatch(ts=ts, seq0=10_000_000 + 10 * b)
    n_new = BATCH_PUTS // 10
    put_rows = sorted(
        {row_key(rng.randrange(rows)) for _ in range(BATCH_PUTS - n_new)}
        | {row_key(rows + rng.randrange(rows)) for _ in range(n_new)}
    )
    for rk in put_rows:
        mb.puts.append((rk, "f1", "a", str(rng.randrange(10_000))))
        mb.puts.append((rk, "f1", "b", str(rng.randrange(10_000))))
        mb.puts.append((rk, "f2", "x", str(rng.randrange(10_000))))
    picked = rng.sample(put_rows, min(len(put_rows), 40))
    mb.deletes[DELETE] = [(rk, "f2", "x") for rk in picked[:20]]
    mb.deletes[DELETE_FAMILY_VERSION] = [(rk, "f2", None) for rk in picked[20:]]
    mb.deletes[DELETE_COLUMN] = sorted(
        {(row_key(rng.randrange(rows)), "f1", rng.choice(F1_QUALS)) for _ in range(20)}
    )
    mb.deletes[DELETE_FAMILY] = sorted(
        {(row_key(rng.randrange(rows)), "f1", None) for _ in range(10)}
    )
    inc_rows = sorted({row_key(rng.randrange(rows)) for _ in range(50)})
    mb.increments = [(rk, "f1", "n", rng.randint(1, 100)) for rk in inc_rows]
    mb.cam_rows = sorted({row_key(rng.randrange(rows)) for _ in range(50)})
    mb.cam_value = f"cam{b}"
    return mb


# ------------------------------------------------------------- documents

_TOKEN_SPLIT = re.compile(r"[^a-z0-9]+")

# Corpus shape: words per document, near-duplicate copies per planted
# base, token edits per copy, and the Jaccard at or above which a pair
# is a near duplicate (the benchmark passes it to minhash_pairs).
DOC_WORDS = 120
COPIES = 3
EDITS = 4
NEAR_JACCARD = 0.8


def tokens(text: str) -> list[str]:
    """The program's MinHash tokenizer: lowercase, split on runs of
    non-[a-z0-9], drop empties (functions.dedup._tok_expr)."""
    return [t for t in _TOKEN_SPLIT.split(text.lower()) if t]


def shingle_set(text: str, n: int = 3) -> set[tuple]:
    t = tokens(text)
    if len(t) < n:
        return {tuple(t)}
    return {tuple(t[i : i + n]) for i in range(len(t) - n + 1)}


def jaccard(a: set, b: set) -> float:
    return len(a & b) / max(len(a | b), 1)


def normalized(text: str) -> str:
    """exact_dedup's canonical form for ASCII text: lowercase, strip
    non-alphanumerics, collapse whitespace (functions.text.normalize_text)."""
    t = re.sub(r"[^a-z0-9\s]", "", text.lower())
    return re.sub(r"\s+", " ", t).strip()


@dataclass
class Corpus:
    docs: list[tuple]  # (doc_id, text, ts)
    near_pairs: set[tuple]  # (a, b), a < b: every pair with Jaccard >= NEAR_JACCARD
    pair_jaccard: dict[tuple, float]  # planted pair -> exact Jaccard
    distinct_texts: int  # rows exact_dedup keeps


def doc_corpus(seed: int, n_docs: int, *, clusters: int, exact_dups: int) -> Corpus:
    """``n_docs`` documents of ``DOC_WORDS`` tokens over a 20k-word vocabulary.

    ``clusters`` base documents each get ``COPIES`` near-duplicates,
    every copy differing from its base at ``EDITS`` spread-out token
    positions (3-gram Jaccard to the base about 0.82-0.9; copies of one
    base sit lower against each other).  ``exact_dups`` more documents
    repeat an earlier one with case and punctuation changes only, so
    ``exact_dedup`` drops them and MinHash pairs them at Jaccard 1.
    Every within-group pair's Jaccard is computed here exactly, so the
    expected verified-pair set is known; unrelated random documents
    share no 3-gram in practice.  Ids are shuffled so cluster members
    do not sit next to each other."""
    rng = random.Random(f"docs:{seed}")
    alphabet = "abcdefghijklmnopqrstuvwxyz"
    vocab = sorted(
        {"".join(rng.choice(alphabet) for _ in range(rng.randint(3, 9))) for _ in range(20_000)}
    )
    n_planted = clusters * COPIES + exact_dups
    if n_planted + clusters > n_docs:
        raise ValueError("corpus too small for the planted structure")
    texts: list[str] = [
        " ".join(rng.choice(vocab) for _ in range(DOC_WORDS)) for _ in range(n_docs - n_planted)
    ]
    groups: list[list[int]] = []
    for c in range(clusters):
        base = texts[c].split(" ")
        members = [c]
        stride = DOC_WORDS // EDITS
        for _ in range(COPIES):
            cp = list(base)
            for e in range(EDITS):
                pos = e * stride + rng.randrange(stride)
                cp[pos] = rng.choice(vocab)
            members.append(len(texts))
            texts.append(" ".join(cp))
        groups.append(members)
    for k in range(exact_dups):
        src = clusters + k  # unplanted originals, one dup each
        words = texts[src].split(" ")
        words[0] = words[0].upper()
        texts.append(", ".join([" ".join(words[:10]), " ".join(words[10:])]) + ".")
        groups.append([src, len(texts) - 1])
    ids = list(range(n_docs))
    rng.shuffle(ids)  # position -> doc_id
    shingles = {}
    near_pairs: set[tuple] = set()
    pair_j: dict[tuple, float] = {}
    for members in groups:
        for m in members:
            shingles.setdefault(m, shingle_set(texts[m]))
        for x in range(len(members)):
            for y in range(x + 1, len(members)):
                a, b = ids[members[x]], ids[members[y]]
                key = (min(a, b), max(a, b))
                j = jaccard(shingles[members[x]], shingles[members[y]])
                pair_j[key] = j
                if j >= NEAR_JACCARD:
                    near_pairs.add(key)
    t0 = NOW
    docs = sorted((ids[p], texts[p], t0 + ids[p] * 1000) for p in range(n_docs))
    return Corpus(
        docs=docs,
        near_pairs=near_pairs,
        pair_jaccard=pair_j,
        distinct_texts=len({normalized(t) for t in texts}),
    )


def components(nodes, pairs) -> dict:
    """node -> minimum node id of its connected component (union-find)."""
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in nodes}
