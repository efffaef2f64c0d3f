"""Deterministic 5x documents fixture for the scaling-slope bench.

The driver generates sf{0.001,0.01,0.1} (read-only); the slope bench
(the r6 slope study in SCALING.md) needs ONE more scale point to
separate linear from super-linear operators. This script amplifies the
sf0.1 ``documents`` table to sf0.5 (25,000 rows) while preserving the
distributions that drive the heavy operators' cost:

- the original 5,000 rows are kept verbatim (ids 0..4999);
- each synthetic row copies a template row's length/lang/source (sampled
  with replacement, seeded) and fills its tokens i.i.d. from the corpus
  unigram distribution — so per-doc length, vocabulary (31 words), and
  the pairwise-similarity density that makes q_setsim_join output-bound
  all stay stationary as row count scales.

Output: .scaling/sf0.5/documents.parquet (gitignored — regenerate on
demand; seed pinned, so every regeneration is byte-stable modulo parquet
encoder details and row-identical always).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SRC = "/root/testdata/sf0.1/documents.parquet"
OUT_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scaling", "sf0.5")
SEED = 42
SCALE = 5


def main() -> None:
    t = pq.read_table(SRC)
    doc_id = t.column("doc_id").to_pylist()
    text = t.column("text").to_pylist()
    lang = t.column("lang").to_pylist()
    source = t.column("source").to_pylist()

    tokens = [s.split(" ") for s in text]
    vocab, counts = np.unique(
        np.concatenate([np.array(tk) for tk in tokens]), return_counts=True
    )
    p = counts / counts.sum()
    lengths = np.array([len(tk) for tk in tokens])

    rng = np.random.default_rng(SEED)
    n_orig = len(doc_id)
    n_new = n_orig * (SCALE - 1)
    tmpl = rng.integers(0, n_orig, size=n_new)
    new_lengths = lengths[tmpl]
    draws = rng.choice(vocab, size=int(new_lengths.sum()), p=p)

    new_ids, new_text, new_lang, new_src, new_nch = [], [], [], [], []
    pos = 0
    next_id = max(doc_id) + 1
    for i in range(n_new):
        ln = int(new_lengths[i])
        s = " ".join(draws[pos : pos + ln])
        pos += ln
        new_ids.append(next_id + i)
        new_text.append(s)
        new_lang.append(lang[tmpl[i]])
        new_src.append(source[tmpl[i]])
        new_nch.append(len(s))

    out = pa.table(
        {
            "doc_id": pa.array(doc_id + new_ids, pa.int64()),
            "text": pa.array(text + new_text, pa.string()),
            "lang": pa.array(lang + new_lang, pa.string()),
            "source": pa.array(source + new_src, pa.string()),
            "n_chars": pa.array(
                [len(s) for s in text] + new_nch, pa.int64()
            ),
        }
    )
    os.makedirs(OUT_DIR, exist_ok=True)
    pq.write_table(out, os.path.join(OUT_DIR, "documents.parquet"))
    print(
        f"wrote {out.num_rows} rows to {OUT_DIR}/documents.parquet "
        f"(orig {n_orig}, synthetic {n_new})"
    )


if __name__ == "__main__":
    main()
