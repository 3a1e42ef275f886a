"""Seeded document corpus for the ``curate_increment`` workload.

Writes two JSONL files in the documents schema
(``sources.jsonl_source.DOCUMENTS_JSONL_SCHEMA``): ``base.jsonl`` (the 75%
that ``llm_pipeline.curate`` builds the dataset from) and ``batch.jsonl``
(the 25% that ``curate_increment`` ingests), plus ``bench.jsonl``, the eval
set the run decontaminates against.  Planted shares, by design:

- exact duplicates: an earlier doc's text re-cased / re-spaced (the dedup
  fingerprint folds case and collapses whitespace);
- near duplicates: an earlier doc with one or two word substitutions;
- contaminated docs: an eval item's text embedded verbatim;
- low-quality docs: too few tokens for the rule gate.

Duplicates point at a uniformly chosen earlier doc, so batch docs hit
dataset docs (the increment's artifact probe) as well as each other.
The same seed always gives byte-identical files.
"""

from __future__ import annotations

import json
import os
import random

STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it")
LANGS = ("en", "de", "es", "fr", "zh")
SOURCES = ("web", "books", "code", "news")

SHARES = {"exact_dup": 0.06, "near_dup": 0.06, "contaminated": 0.03, "short": 0.04}


def _vocab(rng: random.Random, n: int) -> list[str]:
    letters = "bcdfghjklmnprstvwxz"
    vowels = "aeiou"
    words = set()
    while len(words) < n:
        k = rng.randint(2, 4)
        words.add("".join(rng.choice(letters) + rng.choice(vowels) for _ in range(k)))
    return sorted(words)


def _sentence_text(rng: random.Random, vocab: list[str], n_tokens: int) -> str:
    out = []
    for i in range(n_tokens):
        w = rng.choice(STOPWORDS) if rng.random() < 0.3 else rng.choice(vocab)
        out.append(w)
        if i % rng.randint(8, 14) == 0 and i:
            out[-1] += "."
    return " ".join(out)


def generate(out_dir: str, seed: int, n_docs: int = 4000, n_bench: int = 40) -> dict:
    """Write base/batch/bench JSONL files under ``out_dir``; return the
    ground truth (planted ids and shares, row counts)."""
    rng = random.Random(seed)
    vocab = _vocab(rng, 3000)
    bench = [_sentence_text(rng, vocab, rng.randint(25, 40)) for _ in range(n_bench)]
    texts: list[str] = []
    kinds: list[str] = []
    planted = {k: [] for k in SHARES}
    for doc_id in range(n_docs):
        r = rng.random()
        kind = "plain"
        acc = 0.0
        for k, share in SHARES.items():
            acc += share
            if r < acc:
                kind = k
                break
        if kind in ("exact_dup", "near_dup") and doc_id < 20:
            kind = "plain"
        if kind == "exact_dup":
            src = texts[rng.randrange(doc_id)]
            text = "  ".join(src.upper().split(" ")) if rng.random() < 0.5 else src.title()
        elif kind == "near_dup":
            words = texts[rng.randrange(doc_id)].split(" ")
            for _ in range(rng.randint(1, 2)):
                words[rng.randrange(len(words))] = rng.choice(vocab)
            text = " ".join(words)
        elif kind == "contaminated":
            item = rng.choice(bench)
            text = f"{_sentence_text(rng, vocab, rng.randint(10, 30))} {item}"
        elif kind == "short":
            text = _sentence_text(rng, vocab, rng.randint(3, 12))
        else:
            text = _sentence_text(rng, vocab, rng.randint(40, 160))
        texts.append(text)
        kinds.append(kind)
        if kind in planted:
            planted[kind].append(doc_id)

    os.makedirs(out_dir, exist_ok=True)
    paths = {
        "base": os.path.join(out_dir, "base.jsonl"),
        "batch": os.path.join(out_dir, "batch.jsonl"),
        "bench": os.path.join(out_dir, "bench.jsonl"),
    }
    rows = {"base": 0, "batch": 0, "bench": n_bench}
    with open(paths["base"], "w", encoding="utf-8") as base, open(
        paths["batch"], "w", encoding="utf-8"
    ) as batch:
        for doc_id, text in enumerate(texts):
            part = "batch" if doc_id % 4 == 0 else "base"
            rec = {
                "doc_id": doc_id,
                "text": text,
                "lang": LANGS[doc_id % len(LANGS)],
                "source": SOURCES[(doc_id * 7) % len(SOURCES)],
                "n_chars": len(text),
            }
            (batch if part == "batch" else base).write(
                json.dumps(rec, sort_keys=True) + "\n"
            )
            rows[part] += 1
    with open(paths["bench"], "w", encoding="utf-8") as fh:
        for i, text in enumerate(bench):
            rec = {"doc_id": 10_000_000 + i, "text": text, "lang": "en",
                   "source": "eval", "n_chars": len(text)}
            fh.write(json.dumps(rec, sort_keys=True) + "\n")
    return {
        "paths": paths,
        "rows": rows,
        "input_bytes": sum(os.path.getsize(p) for p in paths.values()),
        "planted": planted,
    }
