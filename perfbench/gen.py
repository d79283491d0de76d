"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of ``(seed, out_dir)``: it writes the
workload's input files (what the library reads) and a ``truth.json``
(what only the output checks read) with the Python standard library, so
the same seed always produces identical bytes. Perturbation rates are
chosen so that every quality metric lands strictly between 0 and 1.
"""

from __future__ import annotations

import csv
import itertools
import json
import os
import random

# Sizes are fixed per workload (the seed varies content, never size).
# er_batch: left x right is about 11.5M pairs, above the 10M-pair universe
# below which evaluate_blocking takes its small-input branch, so the
# at-scale evaluation path is the one measured.
ER_BATCH_LEFT = 3400
ER_BATCH_MATCH_RATE = 0.7
ER_BATCH_RIGHT_EXTRA = 1000
CORPUS_DOCS = 1200
DOCS_PER_NEAR_PAIR = 8  # one planted near-duplicate and one near-miss pair per this many docs

FIRST_NAMES = 120
LAST_NAMES = 1500
CITIES = 60

STOPWORDS = ["the", "and", "of", "to", "a", "in", "is", "that", "it", "for"]
BOILERPLATE = [
    "Copyright 2024 Example Media Group all rights reserved",
    "Click here to subscribe to our weekly newsletter today",
    "Share this article on your favourite social network",
    "Cookies help us deliver our services and improve them",
    "Read more stories like this in the archive section",
    "Advertisement continue reading the main story below",
]
# near-duplicates swap a share of a document's words spread evenly over
# this range (minhash LSH can miss the heavier edits);
# near-misses (related, not duplicates) swap enough that their token
# Jaccard straddles the threshold. Even spacing, not random draws, keeps
# the dedup scores alike from seed to seed.
NEAR_DUP_SWAP = (0.02, 0.10)
NEAR_MISS_SWAP = (0.12, 0.2)


def zipf_weights(n: int, s: float = 1.1) -> list[float]:
    return [1.0 / (k ** s) for k in range(1, n + 1)]


def _word(rng: random.Random, lo: int = 3, hi: int = 9) -> str:
    consonants, vowels = "bcdfghjklmnprstvwz", "aeiou"
    n = rng.randint(lo, hi)
    return "".join(
        (consonants if i % 2 == 0 else vowels)[rng.randrange(5 if i % 2 else 18)]
        for i in range(n)
    )


def _vocab(rng: random.Random, n: int, lo: int = 3, hi: int = 9) -> list[str]:
    seen: dict[str, None] = {}
    while len(seen) < n:
        seen.setdefault(_word(rng, lo, hi), None)
    return list(seen)


def _typo(rng: random.Random, w: str) -> str:
    """One character edit: substitute, delete, insert or transpose."""
    if len(w) < 3:
        return w + "x"
    i = rng.randrange(1, len(w) - 1)
    op = rng.randrange(4)
    if op == 0:
        return w[:i] + rng.choice("aeioubcdklmnrst") + w[i + 1:]
    if op == 1:
        return w[:i] + w[i + 1:]
    if op == 2:
        return w[:i] + rng.choice("aeioubcdklmnrst") + w[i:]
    return w[:i - 1] + w[i] + w[i - 1] + w[i + 1:]


def _write_csv(path: str, header: list[str], rows: list[list]) -> None:
    with open(path, "w", newline="", encoding="utf-8") as fh:
        w = csv.writer(fh, lineterminator="\n")
        w.writerow(header)
        w.writerows(rows)


def _write_jsonl(path: str, rows: list[dict]) -> None:
    with open(path, "w", encoding="utf-8") as fh:
        for r in rows:
            fh.write(json.dumps(r, sort_keys=True) + "\n")


def _write_truth(out_dir: str, truth: dict) -> None:
    with open(os.path.join(out_dir, "truth.json"), "w", encoding="utf-8") as fh:
        json.dump(truth, fh, sort_keys=True, indent=1)


# ------------------------------------------------------------ er_batch


def gen_er_batch(seed: int, out_dir: str) -> dict:
    """Two sources. About 70% of left entities reappear on the right with
    name typos and jittered prices, plus unmatched right records. The
    right source names its columns differently (``ID, NAME, CITY,
    PRICE``), upper-cases names and writes prices as ``$1,234.50``, so the
    schema, translation and normalization layers have work to do. First
    names follow a Zipf distribution, so token blocks are skewed."""
    rng = random.Random(f"er_batch:{seed}")
    firsts, lasts = _vocab(rng, FIRST_NAMES, 3, 7), _vocab(rng, LAST_NAMES, 5, 9)
    cities = _vocab(rng, CITIES, 4, 8)
    fw = list(itertools.accumulate(zipf_weights(len(firsts))))

    def person() -> tuple[str, str, str, float]:
        return (rng.choices(firsts, cum_weights=fw)[0], rng.choice(lasts),
                rng.choice(cities), round(rng.uniform(10, 1000), 2))

    left = []
    for i in range(ER_BATCH_LEFT):
        f, l_, c, p = person()
        left.append([f"L{i}", f"{f} {l_}", c, p])
    right, gold, fused_truth = [], [], []
    for rec in left:
        if rng.random() >= ER_BATCH_MATCH_RATE:
            continue
        f, l_ = rec[1].split(" ")
        if rng.random() < 0.3:
            f = _typo(rng, f)
        if rng.random() < 0.3:
            l_ = _typo(rng, l_)
        city = rec[2] if rng.random() < 0.9 else rng.choice(cities)
        price = round(rec[3] * rng.uniform(0.9, 1.1), 2)
        rid = f"R{len(right)}"
        right.append([rid, f"{f} {l_}", city, price])
        gold.append([rec[0], rid, 1])
        fused_truth.append(rec)
    for _ in range(ER_BATCH_RIGHT_EXTRA):
        f, l_, c, p = person()
        right.append([f"R{len(right)}", f"{f} {l_}", c, p])
    # labelled negatives: right records that share a first name token
    # with a left record they do not match (the hard cases)
    by_first: dict[str, list[str]] = {}
    for rec in left:
        by_first.setdefault(rec[1].split(" ")[0], []).append(rec[0])
    positive = {(a, b) for a, b, _ in gold}
    negatives = set()
    for rec in right:
        cands = by_first.get(rec[1].split(" ")[0], [])
        for lid in rng.sample(cands, min(3, len(cands))):
            if (lid, rec[0]) not in positive:
                negatives.add((lid, rec[0]))
    rng.shuffle(right)
    right_rows = [[i, n.upper(), c.title(), f"${p:,.2f}"] for i, n, c, p in right]
    os.makedirs(out_dir, exist_ok=True)
    _write_csv(os.path.join(out_dir, "left.csv"), ["id", "name", "city", "price"], left)
    _write_csv(os.path.join(out_dir, "right.csv"), ["ID", "NAME", "CITY", "PRICE"],
               right_rows)
    _write_csv(os.path.join(out_dir, "gold.csv"), ["id1", "id2", "label"],
               gold + [[a, b, 0] for a, b in sorted(negatives)])
    truth = {"n_left": len(left), "n_right": len(right), "n_gold_pos": len(gold),
             "n_gold_neg": len(negatives), "records": len(left) + len(right),
             # the true entity behind each matched left record: what fusion should output
             "entities": fused_truth}
    _write_truth(out_dir, truth)
    return truth


# ------------------------------------------------------------- corpora


class _DocMaker:
    """Zipf-vocabulary prose with stopwords, one sentence per line."""

    def __init__(self, rng: random.Random, vocab_size: int = 4000):
        self.rng = rng
        self.vocab = _vocab(rng, vocab_size, 3, 9)
        self.cum = list(itertools.accumulate(zipf_weights(vocab_size, 0.9)))

    def sentence(self, n: int) -> list[str]:
        words = self.rng.choices(self.vocab, cum_weights=self.cum, k=n)
        for i in range(0, n, 4):
            words[i] = self.rng.choice(STOPWORDS)
        return words

    def body(self, lines: int) -> list[list[str]]:
        return [self.sentence(self.rng.randint(9, 16)) for _ in range(lines)]

    def perturb(self, body: list[list[str]], share: float) -> list[list[str]]:
        """Replace ``share`` of the words (at least one) by other words."""
        out = [list(line) for line in body]
        spots = [(i, j) for i, line in enumerate(out) for j in range(len(line))]
        for i, j in self.rng.sample(spots, max(1, round(share * len(spots)))):
            w = out[i][j]
            while out[i][j] == w:
                out[i][j] = self.rng.choice(self.vocab)
        return out


def _render(body: list[list[str]]) -> str:
    return "\n".join(" ".join(line) + "." for line in body)


def _with_boilerplate(rng: random.Random, body: list[list[str]]) -> str:
    lines = _render(body).split("\n")
    for b in rng.sample(BOILERPLATE, rng.randint(1, 3)):
        lines.insert(rng.randint(0, len(lines)), b)
    return "\n".join(lines)


def _pair(a: int, b: int) -> tuple[str, str]:
    """A document pair as the dedup layer orders it: ids compared as strings."""
    return tuple(sorted((str(a), str(b))))


def gen_corpus_batch(seed: int, out_dir: str) -> dict:
    """Documents with boilerplate lines (removed by cleaning), low-quality
    documents (removed by the quality filter), planted exact and near
    duplicate groups that survive cleaning, near-miss revisions, and an
    eval set whose passages are planted in known documents."""
    rng = random.Random(f"corpus_batch:{seed}")
    mk = _DocMaker(rng)
    n = CORPUS_DOCS
    bodies: list[list[list[str]] | None] = [None] * n
    role = ["plain"] * n
    order = list(range(n))
    rng.shuffle(order)
    it = iter(order)
    exact_groups, near_pairs, miss_pairs, contaminated = [], [], [], {}
    for _ in range(n // 40):  # exact duplicate groups of 2-3 documents
        src = next(it)
        bodies[src] = mk.body(rng.randint(8, 14))
        grp = [src] + [next(it) for _ in range(rng.randint(1, 2))]
        for d in grp[1:]:
            bodies[d] = [list(line) for line in bodies[src]]
        for d in grp:
            role[d] = "dup"
        exact_groups.append(sorted(grp))
    for (lo, hi), outlier, bucket in ((NEAR_DUP_SWAP, 0.3, near_pairs),
                                      (NEAR_MISS_SWAP, 0.05, miss_pairs)):
        # a few outliers on the far side of the threshold keep recall and
        # precision below 1 whatever the seed
        k = n // DOCS_PER_NEAR_PAIR
        shares = [lo + (hi - lo) * (i + 0.5) / k for i in range(k)] + [outlier] * (n // 100)
        for share in shares:
            a, b = next(it), next(it)
            bodies[a] = mk.body(rng.randint(8, 14))
            bodies[b] = mk.perturb(bodies[a], share)
            role[a] = role[b] = "dup"
            bucket.append((a, b))
    low_quality = []
    for _ in range(n // 25):
        d = next(it)
        bodies[d] = [[str(rng.randint(0, 99999)) for _ in range(rng.randint(3, 8))]]
        role[d] = "low"
        low_quality.append(d)
    for d in range(n):
        if bodies[d] is None:
            bodies[d] = mk.body(rng.randint(8, 14))
    # eval passages of 30 words: planted whole or as a 22-word fragment
    # (both above the 0.05 contamination ratio even in the longest
    # document, so flagged), or as a 10-word fragment (below it, so
    # contamination recall stays below 1)
    evals = []
    plain = [d for d in range(n) if role[d] == "plain"]
    for e, d in enumerate(rng.sample(plain, n // 30)):
        passage = mk.sentence(30)
        evals.append({"doc_id": f"ev{e}", "text": " ".join(passage) + "."})
        full = e % 4 != 3  # every fourth passage is planted as a fragment
        planted = passage if full else passage[:22 if e % 8 == 3 else 10]
        bodies[d].insert(rng.randint(0, len(bodies[d])), planted)
        contaminated[d] = full
    docs = [{"doc_id": d, "text": _with_boilerplate(rng, bodies[d])} for d in range(n)]
    os.makedirs(out_dir, exist_ok=True)
    _write_jsonl(os.path.join(out_dir, "docs.jsonl"), docs)
    _write_jsonl(os.path.join(out_dir, "eval.jsonl"), evals)
    dup_pairs = sorted({_pair(a, b) for g in exact_groups
                        for i, a in enumerate(g) for b in g[i + 1:]}
                       | {_pair(a, b) for a, b in near_pairs})
    truth = {
        "records": n,
        "exact_groups": len(exact_groups),
        "dup_pairs": [list(p) for p in dup_pairs],
        "near_miss_pairs": [list(_pair(a, b)) for a, b in miss_pairs],
        "low_quality": [str(d) for d in low_quality],
        "contaminated_full": sorted(str(d) for d, full in contaminated.items() if full),
        "contaminated_all": sorted(str(d) for d in contaminated),
    }
    _write_truth(out_dir, truth)
    return truth


GENERATORS = {
    "er_batch": gen_er_batch,
    "corpus_batch": gen_corpus_batch,
}
