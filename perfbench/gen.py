"""Seeded input generators for the benchmark workloads.

Everything here is NumPy/pandas only: the program under test sees the
generated inputs as parquet files and nothing else. The same seed gives
byte-identical inputs.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

#: coordinate domain of the reference report's uniform grid (FIXTURES.md §1.1)
DOMAIN = 10**9


def uniform_points(rng: np.random.Generator, n: int, d: int) -> np.ndarray:
    """``n`` x ``d`` uniform integers in [0, 1e9]."""
    return rng.integers(0, DOMAIN, size=(n, d), dtype=np.int64, endpoint=True)


def anticorrelated_points(rng: np.random.Generator, n: int, d: int) -> np.ndarray:
    """Anticorrelated cloud (Börzsönyi et al. 2001 shape, as in
    ``bench.py::_anticorrelated``): every point splits an energy budget
    near 0.5 across its dimensions by a Dirichlet draw, so dimensions
    are negatively correlated and the frontier is a large share."""
    energy = rng.normal(0.5, 0.05, size=n).clip(0.0, 1.0)
    props = rng.dirichlet(np.ones(d), size=n)
    pts = (props * (energy[:, None] * d)).clip(0.0, 1.0)
    return (pts * DOMAIN).astype(np.int64)


def points_frame(pts: np.ndarray, id_offset: int = 0) -> pd.DataFrame:
    """Point matrix as a frame: ``id`` plus ``x0..x{d-1}``."""
    pdf = pd.DataFrame(pts, columns=[f"x{i}" for i in range(pts.shape[1])])
    pdf.insert(0, "id", np.arange(id_offset, id_offset + len(pts), dtype=np.int64))
    return pdf


# ---------------------------------------------------------------- corpus

_CONS = "bcdfghjklmnpqrstvwxz"
_VOWS = "aeiouy"


def _word(i: int, tag: str) -> str:
    """Letters-only word for index ``i``: no digit, dot or @ can reach the
    PII patterns. ``tag`` keeps training and eval vocabularies disjoint."""
    out = []
    while True:
        i, r = divmod(i, len(_CONS) * len(_VOWS))
        out.append(_CONS[r // len(_VOWS)] + _VOWS[r % len(_VOWS)])
        if i == 0:
            break
        i -= 1
    return "".join(out) + tag


def _tokens(text: str) -> list[str]:
    return text.strip().lower().split()


def passes_quality(text: str) -> bool:
    """The documented ``repetition_stats`` default thresholds, evaluated
    independently: word count >= 5, duplicate-line, duplicate-word and
    top-word fractions under 0.3 / 0.5 / 0.2."""
    toks = _tokens(text)
    n = len(toks)
    if n < 5:
        return False
    lines = [ln for ln in text.split("\n") if ln.strip()]
    if lines and (len(lines) - len(set(lines))) / len(lines) > 0.3:
        return False
    if (n - len(set(toks))) / n > 0.5:
        return False
    top = max(toks.count(w) for w in set(toks))
    return top / n <= 0.2


def shingle_set(text: str, k: int) -> set[str]:
    toks = _tokens(text)
    if len(toks) < k:
        return {" ".join(toks)}
    return {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)}


def jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b) if a or b else 1.0


#: planted shares of the corpus, by category
CORPUS_SHARES = {
    "exact_dup": 0.04,
    "near_dup": 0.04,
    "pii": 0.05,
    "low_quality": 0.04,
    "contaminated": 0.02,
}

def corpus(rng: np.random.Generator, n_docs: int, n_eval: int = 200):
    """Zipf-vocabulary corpus with planted duplicates, near-duplicates,
    PII lines, repetitive documents and eval-set contamination.

    Returns ``(docs, eval_docs, truth)``: two frames (``doc_id``,
    ``text``) / (``eval_id``, ``text``) and a dict of id arrays: the
    ``expected`` survivors of curation plus every planted category and
    the raw PII strings that must not survive scrubbing."""
    vocab = np.array([_word(i, "") for i in range(20_000)])
    cdf = np.cumsum(1.0 / (np.arange(len(vocab)) + 8.0) ** 1.05)
    cdf /= cdf[-1]
    eval_vocab = np.array([_word(i, "q") for i in range(5_000)])

    def zipf_words(k: int) -> list[str]:
        return list(vocab[np.searchsorted(cdf, rng.random(k), side="right")])

    def clean_doc() -> str:
        while True:
            nl = int(rng.integers(3, 7))
            text = "\n".join(
                " ".join(zipf_words(int(w))) for w in rng.integers(8, 17, size=nl)
            )
            if passes_quality(text):
                return text

    n_plant = {k: int(round(v * n_docs)) for k, v in CORPUS_SHARES.items()}
    n_clean = n_docs - sum(n_plant.values())
    texts: list[str] = [clean_doc() for _ in range(n_clean)]
    cats = {k: [] for k in CORPUS_SHARES}
    # distinct originals per copy kind: copies never chain
    originals = rng.permutation(n_clean)
    o_exact = originals[: n_plant["exact_dup"]]
    o_near = originals[n_plant["exact_dup"] : n_plant["exact_dup"] + n_plant["near_dup"]]

    for o in o_exact:
        # same normalized text: case and whitespace changes only
        words = texts[o].split(" ")
        j = int(rng.integers(len(words)))
        words[j] = words[j].upper()
        cats["exact_dup"].append(len(texts))
        texts.append("  " + "  ".join(words) + " ")
    for o in o_near:
        src = _tokens(texts[o])
        while True:
            lines = texts[o].split("\n")
            li = int(rng.integers(len(lines)))
            ws = lines[li].split(" ")
            ws[int(rng.integers(len(ws)))] = zipf_words(1)[0]
            lines[li] = " ".join(ws)
            cand = "\n".join(lines)
            if _tokens(cand) != src and jaccard(
                shingle_set(cand, 3), shingle_set(texts[o], 3)
            ) >= 0.6:
                break
        cats["near_dup"].append(len(texts))
        texts.append(cand)
    pii_strings = []
    for _ in range(n_plant["pii"]):
        k = len(texts)
        email = f"{_word(k, 'r')}.{_word(k + 7, 's')}@example.org"
        phone = f"+1 {rng.integers(200, 999)}-{rng.integers(100, 999)}-{rng.integers(1000, 9999)}"
        pii_strings += [email, phone]
        cats["pii"].append(k)
        texts.append(clean_doc() + f"\nplease contact {email} or call {phone} today")
    for _ in range(n_plant["low_quality"]):
        line = " ".join(zipf_words(int(rng.integers(8, 13))))
        cats["low_quality"].append(len(texts))
        texts.append("\n".join([line] * int(rng.integers(4, 7))))
    eval_texts = [" ".join(rng.choice(eval_vocab, size=60)) for _ in range(n_eval)]
    for _ in range(n_plant["contaminated"]):
        ev = _tokens(eval_texts[int(rng.integers(n_eval))])
        st = int(rng.integers(0, len(ev) - 13))
        lines = clean_doc().split("\n")
        lines.insert(int(rng.integers(len(lines) + 1)), " ".join(ev[st : st + 13]))
        cats["contaminated"].append(len(texts))
        texts.append("\n".join(lines))

    ids = np.arange(len(texts), dtype=np.int64)
    dropped = set()
    for k in ("exact_dup", "near_dup", "low_quality", "contaminated"):
        dropped.update(cats[k])
    expected = np.array([i for i in ids if i not in dropped], dtype=np.int64)
    order = rng.permutation(len(texts))
    docs = pd.DataFrame({"doc_id": ids[order], "text": [texts[i] for i in order]})
    eval_docs = pd.DataFrame(
        {"eval_id": np.arange(n_eval, dtype=np.int64), "text": eval_texts}
    )
    truth = {k: np.array(v, dtype=np.int64) for k, v in cats.items()}
    truth["expected"] = expected
    truth["pii_strings"] = pii_strings
    return docs, eval_docs, truth
