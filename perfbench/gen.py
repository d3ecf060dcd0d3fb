#!/usr/bin/env python3
"""Seeded input generator for the perfbench workloads.

The same `--seed` always yields byte-identical files. The engine under
test receives only what is written under `<out>/input`; expected results
go to `<out>/expected`.

    python3 perfbench/gen.py --workload wordcount --seed 7 --out /tmp/wc7

`wordcount` writes a multi-file ASCII corpus (`input/corpus/part-NN.txt`)
and `expected/tally.tsv`: the exact (word, count) pairs the generator
emitted, one `word<TAB>count` line each, in the reference's output order
(count ascending, then word ascending). The tally is computed from the sampled
word ids, not by re-tokenizing the text, so it is independent of the
engine's tokenizer.

`judged` writes the parquet tables its queries read
(`input/events.parquet`, `input/documents.parquet`), shaped like the
engine's fixture tables (see FIXTURES.md at the repository root): `events`
at scale factor 0.01 and `documents` at 0.05, where dd18's quadratic
candidate expansion outweighs its per-job overhead.
"""
import argparse
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --- wordcount corpus -------------------------------------------------------
VOCAB = 200_000        # distinct words the sampler can draw
ZIPF_S = 1.0           # exponent: p(rank r) ~ 1 / r^s
TOKENS = 2_000_000     # words emitted (punctuation-only tokens come on top)
FILES = 8
LINE_MIN, LINE_MAX = 6, 18

# --- tables (scale factor 1 = the fixture generator's sf1 row counts) -------
EVENTS_PER_SF = 1_000_000
USERS_PER_SF = 15_000
DOCS_PER_SF = 50_000
DOC_WORDS = ("the a join hash row batch scan column customer filter small "
             "slow merge order vector line table data agg value key stream "
             "window spark part group big sort query fast").split()
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]

# tables of each table workload, with the scale factor of each
TABLE_WORKLOADS = {
    "judged": {"events": 0.01, "documents": 0.05},
}
WORKLOADS = ("wordcount",) + tuple(TABLE_WORKLOADS)


def vocabulary(rng, n):
    """n distinct lowercase ASCII words of 3-10 letters."""
    words = set()
    out = []
    while len(out) < n:
        k = n - len(out)
        lens = rng.integers(3, 11, size=2 * k)
        letters = rng.integers(ord("a"), ord("z") + 1, size=(2 * k, 10),
                               dtype=np.uint8)
        for row, ln in zip(letters, lens):
            w = row[:ln].tobytes().decode("ascii")
            if w not in words:
                words.add(w)
                out.append(w)
                if len(out) == n:
                    break
    return out


def gen_wordcount(seed, out, expected):
    rng = np.random.default_rng(seed)
    vocab = np.array(vocabulary(rng, VOCAB), dtype=object)
    p = 1.0 / np.arange(1, VOCAB + 1) ** ZIPF_S
    cdf = np.cumsum(p / p.sum())
    ids = np.minimum(np.searchsorted(cdf, rng.random(TOKENS)), VOCAB - 1)
    # rank r is a random word, so word order says nothing about frequency
    ids = rng.permutation(VOCAB)[ids]
    counts = np.bincount(ids, minlength=VOCAB)

    # surface forms: mixed case and punctuation that `lower` and the
    # `\W` strip undo, so each token normalizes back to its word
    forms = np.array([vocab, [w.capitalize() for w in vocab],
                      [w.upper() for w in vocab]], dtype=object)
    variant = np.searchsorted([0.80, 0.92], rng.random(TOKENS), side="right")
    toks = forms[variant, ids]
    trail = np.array([".", ",", ";", ":", "!", "?", ")", "'s"], dtype=object)
    lead = np.array(['"', "(", "'", "["], dtype=object)
    punct = rng.random(TOKENS)
    m = punct < 0.15
    t_ix = rng.integers(0, len(trail), m.sum())
    toks[m] = toks[m] + trail[t_ix]
    # "word's" normalizes to "words": count it there, not under "word"
    poss = np.flatnonzero(m)[t_ix == len(trail) - 1]
    m = punct > 0.97
    toks[m] = lead[rng.integers(0, len(lead), m.sum())] + toks[m]
    # punctuation-only tokens, which normalize to "" and are dropped
    junk = np.array(["--", "...", "&", "!!", "#"], dtype=object)
    n_junk = TOKENS // 50
    where = rng.integers(0, TOKENS, n_junk)
    stream = np.insert(toks, where, junk[rng.integers(0, len(junk), n_junk)])
    counts -= np.bincount(ids[poss], minlength=VOCAB)
    poss_counts = np.bincount(ids[poss], minlength=VOCAB)

    tally = {}
    for w, c, pc in zip(vocab, counts, poss_counts):
        if c:
            tally[w] = tally.get(w, 0) + int(c)
        if pc:
            tally[w + "s"] = tally.get(w + "s", 0) + int(pc)

    os.makedirs(f"{out}/corpus", exist_ok=True)
    lens = rng.integers(LINE_MIN, LINE_MAX + 1, size=len(stream) // LINE_MIN + 1)
    ends = np.cumsum(lens)
    ends = ends[ends < len(stream)]
    lines = [" ".join(x) for x in np.split(stream, ends)]
    per_file = (len(lines) + FILES - 1) // FILES
    total = 0
    for f in range(FILES):
        body = "\n".join(lines[f * per_file:(f + 1) * per_file]) + "\n"
        with open(f"{out}/corpus/part-{f:02d}.txt", "w") as fh:
            fh.write(body)
        total += len(body)
    rows = sorted(tally.items(), key=lambda kv: (kv[1], kv[0]))
    os.makedirs(expected, exist_ok=True)
    with open(f"{expected}/tally.tsv", "w") as fh:
        fh.writelines(f"{w}\t{c}\n" for w, c in rows)
    return {"tokens": int(TOKENS), "junk_tokens": int(n_junk),
            "distinct_words": len(rows), "vocabulary": VOCAB,
            "zipf_s": ZIPF_S, "corpus_bytes": total, "files": FILES}


def gen_events(rng, sf):
    n = int(EVENTS_PER_SF * sf)
    users = int(USERS_PER_SF * sf)
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span = 30 * 86400 * 1_000_000
    ts = np.sort(start + rng.integers(0, span, n))
    value = np.round(rng.exponential(50.0, n), 2)
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, n), pa.int64()),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
        "value": pa.array(value, pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def gen_documents(rng, sf):
    n = int(DOCS_PER_SF * sf)
    texts = []
    for i in range(n):
        if i > 0 and rng.random() < 0.05:
            # near-duplicate of an earlier document
            texts.append(texts[rng.integers(0, i)] + " dup")
        else:
            k = rng.integers(10, 101)
            texts.append(" ".join(np.array(DOC_WORDS)[rng.integers(0, len(DOC_WORDS), k)]))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


TABLES = {"events": gen_events, "documents": gen_documents}


def generate(workload, seed, out):
    """Write the workload's inputs under `out/input` and its expected
    results under `out/expected`; return a summary dict."""
    inp = os.path.join(out, "input")
    os.makedirs(inp, exist_ok=True)
    if workload == "wordcount":
        return gen_wordcount(seed, inp, os.path.join(out, "expected"))
    tables = TABLE_WORKLOADS[workload]
    summary = {"sf": tables}
    for i, (t, sf) in enumerate(tables.items()):
        # one stream per table, so adding a table leaves the others alone
        rng = np.random.default_rng([seed, i])
        tbl = TABLES[t](rng, sf)
        pq.write_table(tbl, f"{inp}/{t}.parquet")
        summary[t] = tbl.num_rows
    return summary


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    print(json.dumps(generate(a.workload, a.seed, a.out)))


if __name__ == "__main__":
    main()
