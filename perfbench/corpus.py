"""Seeded document corpus for the ``curate_corpus`` workload, and the
``curate.py`` stats it must produce, derived from the generator's own
duplicate arithmetic (no engine code involved).

Layout by doc id ``i`` (``i % 50``): 38 unique base documents, then 2
hot-template documents (4%), 5 exact duplicates (10%) and 5 one-token
near-duplicates (10%). Duplicates copy an earlier base document,
so the minimum id of every duplicate group is its base document, which
is the one both dedup stages keep.

- A near-duplicate is its base text plus one appended token, which adds
  one word 3-shingle. A MinHash band of 4 permutations keeps agreeing
  unless one of them picks the new shingle, so ``curate.py``'s 4 bands
  all miss the pair with probability about ``(4 / (L - 1))**4``: under
  3e-6 per pair at ``L >= 100`` tokens, under 0.3% per 8k-document run.
  The expected survivor count is therefore exact for practical purposes.
- Template documents share one ``TEMPLATE_TOKENS``-token template and
  differ in its last token, i.e. in one of ~300 shingles. A document
  keeps the band key the template's other shingles give unless its own
  shingle beats their minimum in one of the band's 4 permutations, so
  each band puts ~98% of the template documents into one bucket. At 4%
  of the corpus that bucket exceeds ``--max-bucket``: it is cut, the
  exact-duplicate fallback finds no identical texts, and every template
  document survives. (A slot inside a 100-token template changes 3
  shingles, and then about one seed in three leaves a band under the
  cap.)
"""

from __future__ import annotations

import hashlib
import math
import os

import numpy as np

CYCLE = 50
TEMPLATE = range(38, 40)
EXACT = range(40, 45)
NEAR = range(45, 50)

LANGS = ("en", "de", "fr")
LANG_P = (0.5, 0.3, 0.2)
# the rates the workload passes to curate.py: --langs en=0.6,de=0.4
# --default-rate 0.3 (fr falls to the default)
RATES = {"en": 0.6, "de": 0.4}
DEFAULT_RATE = 0.3
BUDGET = 2048
MIN_TOKENS, MAX_TOKENS = 100, 120
TEMPLATE_TOKENS = 300
VOCAB = 50_000


def kind_of(i: int) -> str:
    r = i % CYCLE
    if r in EXACT:
        return "exact"
    if r in NEAR:
        return "near"
    if r in TEMPLATE:
        return "template"
    return "base"


def generate(n: int, seed: int) -> dict[str, list]:
    """Columns ``doc_id, text, lang, kind`` for ``n`` documents.

    ``kind`` is the ground-truth label; it is not written to the table
    ``curate.py`` reads."""
    rng = np.random.Generator(np.random.PCG64(seed))
    vocab = [f"w{v:x}" for v in rng.integers(1 << 32, 1 << 36, size=VOCAB)]
    lengths = rng.integers(MIN_TOKENS, MAX_TOKENS + 1, size=n)
    words = rng.integers(0, VOCAB, size=int(lengths.sum())).tolist()
    tmpl_toks = [vocab[v] for v in rng.integers(0, VOCAB, size=TEMPLATE_TOKENS)]
    langs = rng.choice(len(LANGS), size=n, p=LANG_P)
    src_pick = rng.random(n)

    ids, texts, lang_out, kinds = [], [], [], []
    base_ids: list[int] = []
    pos = 0
    for i in range(n):
        k = kind_of(i)
        if k == "base":
            text = " ".join([vocab[v] for v in words[pos : pos + lengths[i]]])
            pos += lengths[i]
            lang = LANGS[langs[i]]
            base_ids.append(i)
        elif k == "template":
            toks = list(tmpl_toks)
            toks[-1] = f"s{i}"
            text = " ".join(toks)
            lang = LANGS[langs[i]]
        else:
            src = base_ids[int(src_pick[i] * len(base_ids))]
            text, lang = texts[src], lang_out[src]
            if k == "near":
                text = f"{text} n{i}"
        ids.append(i)
        texts.append(text)
        lang_out.append(lang)
        kinds.append(k)
    return {"doc_id": ids, "text": texts, "lang": lang_out, "kind": kinds}


def write_parquet(cols: dict[str, list], path: str) -> None:
    """Write the ``curate.py`` input (doc_id, text, lang) as one parquet
    file under directory ``path``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    table = pa.table(
        {
            "doc_id": pa.array(cols["doc_id"], pa.int64()),
            "text": pa.array(cols["text"], pa.string()),
            "lang": pa.array(cols["lang"], pa.string()),
        }
    )
    pq.write_table(table, os.path.join(path, "part-0.parquet"))


def sample_draw(doc_id: int, salt: str = "") -> int:
    """The mixture sampler's per-document draw, per its documented rule:
    ``hash60(id || ':' || salt) mod 1e6`` with hash60 = the first 15 hex
    digits of md5 read as an integer."""
    h = hashlib.md5(f"{doc_id}:{salt}".encode()).hexdigest()[:15]
    return int(h, 16) % 1_000_000


def expected_stats(cols: dict[str, list]) -> dict[str, int]:
    """The ``stats.json`` that ``curate.py --near-dup --max-bucket 256
    --langs en=0.6,de=0.4 --default-rate 0.3`` must write for ``cols``."""
    n = len(cols["doc_id"])
    survivors = [
        i for i, k in zip(cols["doc_id"], cols["kind"]) if k in ("base", "template")
    ]
    kept, tokens = 0, 0
    for i in survivors:
        rate = RATES.get(cols["lang"][i], DEFAULT_RATE)
        if sample_draw(i) < int(round(rate * 1_000_000)):
            kept += 1
            tokens += len(cols["text"][i].split(" "))
    return {
        "input": n,
        "after_dedup": len(survivors),
        "after_quality": len(survivors),
        "after_mixture": kept,
        "curated": kept,
        "tokens": tokens,
        "chunks": math.ceil(tokens / BUDGET),
    }
