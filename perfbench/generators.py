"""Seeded input generators.  The same seed gives the same inputs; the
engine only ever sees the generated rows.

All randomness flows from ``numpy.random.default_rng([seed, ...])``
with a fixed stream tag per generator, so generators never share a
stream and adding one does not shift another's inputs.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

# -- upsert_large_state ----------------------------------------------------
UPSERT_GROUPS = 200_000
ZIPF_A = 1.2


def upsert_preload(seed: int, n_groups: int = UPSERT_GROUPS) -> pd.DataFrame:
    """One row per group: keys 0..n-1 with a small integer value."""
    rng = np.random.default_rng([seed, 1])
    return pd.DataFrame({"k": np.arange(n_groups, dtype=np.int64),
                         "v": rng.integers(0, 100, n_groups, dtype=np.int64)})


def upsert_batch(seed: int, i: int, rows: int,
                 n_groups: int = UPSERT_GROUPS) -> pd.DataFrame:
    """Batch ``i``: Zipf-skewed keys, hot keys scattered over the key
    space by a seed-chosen affine permutation."""
    perm = np.random.default_rng([seed, 2])
    mult = int(perm.integers(1, n_groups)) | 1
    while np.gcd(mult, n_groups) != 1:
        mult += 2
    off = int(perm.integers(0, n_groups))
    rng = np.random.default_rng([seed, 3, i])
    z = rng.zipf(ZIPF_A, rows).astype(np.int64) - 1
    keys = (z % n_groups * mult + off) % n_groups
    return pd.DataFrame({"k": keys,
                         "v": rng.integers(0, 1000, rows, dtype=np.int64)})


# -- dedup_batch -----------------------------------------------------------
VOCAB = 5000
DOC_WORDS = (80, 120)
FAMILY_DOC_WORDS = 100
STAR_EDITS = 2          # words replaced per star member
CHAIN_EDITS = 6         # words replaced per chain step
SLOT = 4                # edited positions are >= SLOT apart
SAFE_TRUE_PAIR = 0.66   # every planted pair at J >= 0.5 is at least this


def _vocab(rng) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = set()
    while len(words) < VOCAB:
        n = int(rng.integers(3, 9))
        words.add("".join(rng.choice(letters, n)))
    return np.array(sorted(words))


def grams(words: list[str]) -> set[str]:
    return {" ".join(words[i:i + 3]) for i in range(len(words) - 2)}


def jaccard(a: list[str], b: list[str]) -> float:
    ga, gb = grams(a), grams(b)
    inter = len(ga & gb)
    return inter / (len(ga) + len(gb) - inter)


def corpus(seed: int, n_random: int = 1000, n_stars: int = 30,
           n_chains: int = 15, chain_len: int = 5) -> pd.DataFrame:
    """Documents with the bank's ``documents`` schema: random docs plus
    planted near-duplicate families.

    * star: a base doc and 2-5 copies with STAR_EDITS words replaced
      (member-to-base J ~0.88, member-to-member J ~0.78);
    * chain: each step replaces CHAIN_EDITS fresh words of the previous
      doc (neighbours J ~0.69, two steps apart J ~0.46), so the chain is
      one cluster only transitively.

    Replacement words contain digits and the vocabulary does not, so an
    edit never recreates a shingle.  Every within-family pair is either
    below 0.5 or at least SAFE_TRUE_PAIR, which keeps true pairs far
    from the LSH miss region."""
    rng = np.random.default_rng([seed, 5])
    vocab = _vocab(rng)
    docs: list[list[str]] = []
    fresh = iter(range(10**9))

    def random_doc(n_words):
        return list(rng.choice(vocab, n_words))

    def edit(words, positions):
        out = list(words)
        for p in positions:
            out[p] = f"x{next(fresh)}"
        return out

    n_slots = (FAMILY_DOC_WORDS - 4) // SLOT
    for _ in range(n_random):
        docs.append(random_doc(int(rng.integers(*DOC_WORDS))))
    families: list[list[int]] = []
    for _ in range(n_stars):
        base = random_doc(FAMILY_DOC_WORDS)
        k = int(rng.integers(2, 6))
        slots = rng.permutation(n_slots)[: k * STAR_EDITS] * SLOT + 2
        fam = [base] + [edit(base, slots[j * STAR_EDITS:(j + 1) * STAR_EDITS])
                        for j in range(k)]
        families.append(list(range(len(docs), len(docs) + len(fam))))
        docs.extend(fam)
    for _ in range(n_chains):
        cur = random_doc(FAMILY_DOC_WORDS)
        slots = rng.permutation(n_slots)[: (chain_len - 1) * CHAIN_EDITS] \
            * SLOT + 2
        fam = [cur]
        for step in range(chain_len - 1):
            cur = edit(cur, slots[step * CHAIN_EDITS:(step + 1) * CHAIN_EDITS])
            fam.append(cur)
        families.append(list(range(len(docs), len(docs) + len(fam))))
        docs.extend(fam)
    for fam in families:
        for i, a in enumerate(fam):
            for b in fam[i + 1:]:
                j = jaccard(docs[a], docs[b])
                if 0.5 <= j < SAFE_TRUE_PAIR:
                    raise AssertionError(
                        f"generator planted a pair at J={j:.3f}")
    ids = rng.permutation(len(docs)).astype(np.int64)
    texts = [" ".join(w) for w in docs]
    return pd.DataFrame({
        "doc_id": ids,
        "text": texts,
        "lang": "en",
        "source": [f"src{i % 4}" for i in ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }).sort_values("doc_id", ignore_index=True)
