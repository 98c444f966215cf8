"""Seeded benchmark inputs and the exact outputs they must produce.

* ``make_corpus``: a Zipf raw-text corpus for the ``wordcount`` workload,
  drawn from a fixed vocabulary (``cached_vocabulary``). The generator
  tallies every token it writes, so the expected TSV sink and top-20
  block are known exactly without running any engine.
* ``make_tables``: the ``embeddings`` table for the query workload.
  Seed 0 is the committed sf0.1 table as-is; any other seed applies a
  seeded bijective relabelling of ``embeddings.vec_id`` (same rows, same
  id range).

Both are deterministic in the seed and cached per seed by the caller.
"""
import hashlib
import json
import os

import numpy as np

# Head of the vocabulary: common English words, so the top-20 block reads
# like the reference job's report on a Wikipedia dump.
HEAD = ("the of and in to a is was for as on by with he that at from his it "
        "an were are which this be or had not first also new has but one "
        "their after its who all two been they she her years more other "
        "time there when than some into only most would up about where year "
        "over can between through during may").split()

WORDS_PER_LINE = 12


def vocabulary(rng, size):
    """`size` distinct lower-case alphabetic words (3 to 11 letters), HEAD
    first, as a numpy bytes array."""
    head = np.array(HEAD, dtype="S11")
    words = head
    while len(words) < size:
        m = 2 * (size - len(words))
        codes = rng.integers(ord("a"), ord("z") + 1, size=(m, 11), dtype=np.uint8)
        codes[np.arange(11) >= rng.integers(3, 12, size=m)[:, None]] = 0
        cand = codes.view("S11").ravel()
        cand = cand[~np.isin(cand, words)]
        _, first = np.unique(cand, return_index=True)
        words = np.concatenate([words, cand[np.sort(first)]])
    return words[:size]


def expected_topk(pairs, k=20):
    """The console block `Report.formatTopK` prints, for (word, count)
    pairs already in (count desc, word asc) order."""
    top = pairs[:k]
    longest = max((len(w) for w, _ in top), default=5)
    lines = ["%2d. %s: %s" % (i + 1, w.ljust(longest + 1), format(c, ","))
             for i, (w, c) in enumerate(top)]
    return ("=" * 60 + "\nTOP %d WORDS BY FREQUENCY\n" % k + "=" * 60 +
            "\n\n" + "\n".join(lines))


def cached_vocabulary(cache_dir, size):
    """The vocabulary every seed's corpus draws from (seeds differ in the
    token stream), generated once per cache directory."""
    path = os.path.join(cache_dir, "vocab-%d.npy" % size)
    if not os.path.exists(path):
        os.makedirs(cache_dir, exist_ok=True)
        words = vocabulary(np.random.default_rng(0x70CAB), size)
        np.save(path + ".tmp.npy", words)
        os.replace(path + ".tmp.npy", path)
    return np.load(path)


def make_corpus(out_dir, seed, total_bytes, n_files, vocab, zipf_s=1.0):
    """Write `n_files` text files of about `total_bytes` in all under
    `out_dir/text`, drawing Zipf-ranked words from `vocab` (a bytes array
    from `vocabulary`), and return the expected outputs of the word-count
    job: token total, distinct words, sha256 of the TSV sink and the
    top-20 block. Lines start with a capital and end with a period, so the
    tokenizer's lower-casing and word boundaries do real work."""
    rng = np.random.default_rng([seed, 0x5EED])
    vocab_size = len(vocab)
    weights = 1.0 / np.arange(1, vocab_size + 1) ** zipf_s
    cdf = np.cumsum(weights)
    cdf /= cdf[-1]
    words = vocab.astype(object)
    words = np.array([w.decode("ascii") for w in words], dtype=object)
    mean_len = float(np.dot(weights / weights.sum(),
                            [len(w) + 1 for w in words])) + 1.0 / WORDS_PER_LINE
    per_file = int(total_bytes / n_files / mean_len)
    per_file -= per_file % WORDS_PER_LINE
    counts = np.zeros(vocab_size, dtype=np.int64)
    text_dir = os.path.join(out_dir, "text")
    os.makedirs(text_dir, exist_ok=True)
    text_bytes = 0
    for f in range(n_files):
        ranks = np.searchsorted(cdf, rng.random(per_file), side="right")
        ranks = np.minimum(ranks, vocab_size - 1)
        counts += np.bincount(ranks, minlength=vocab_size)
        toks = words[ranks]
        toks[::WORDS_PER_LINE] = [w.capitalize() for w in toks[::WORDS_PER_LINE]]
        seps = np.full(per_file, " ", dtype=object)
        seps[WORDS_PER_LINE - 1::WORDS_PER_LINE] = ".\n"
        body = np.empty(2 * per_file, dtype=object)
        body[0::2], body[1::2] = toks, seps
        data = "".join(body.tolist()).encode("ascii")
        text_bytes += len(data)
        with open(os.path.join(text_dir, "part-%03d.txt" % f), "wb") as fh:
            fh.write(data)
    seen = np.nonzero(counts)[0]
    # (count desc, word asc): the TSV sink's total order.
    order = seen[np.lexsort((vocab[seen], -counts[seen]))]
    pairs = [(words[r], int(counts[r])) for r in order]
    tsv = "".join("%s\t%d\n" % p for p in pairs).encode("ascii")
    return {
        "text_dir": text_dir,
        "text_bytes": text_bytes,
        "tokens": int(counts.sum()),
        "unique": len(pairs),
        "tsv_sha256": hashlib.sha256(tsv).hexdigest(),
        "topk": expected_topk(pairs),
    }


def relabel(ids, seed, salt):
    """A seeded bijection of the id set onto itself (seed 0: identity)."""
    ids = np.asarray(ids)
    if seed == 0:
        return ids
    rng = np.random.default_rng([seed, salt])
    uniq = np.unique(ids)
    perm = rng.permutation(uniq)
    return perm[np.searchsorted(uniq, ids)]


def make_tables(src_dir, out_dir, seed):
    """Write the relabelled `embeddings` table for `seed` under `out_dir`
    (one parquet file, the layout `Tables` reads)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    os.makedirs(out_dir, exist_ok=True)
    t = pq.read_table(os.path.join(src_dir, "embeddings.parquet"))
    ids = relabel(t.column("vec_id").to_numpy(), seed, 2)
    t = t.set_column(t.schema.get_field_index("vec_id"), "vec_id",
                     pa.array(ids, type=t.schema.field("vec_id").type))
    pq.write_table(t, os.path.join(out_dir, "embeddings.parquet"))
    return out_dir


def write_json(path, obj):
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(obj, fh, indent=1, sort_keys=True)
    os.replace(tmp, path)


def read_json(path):
    with open(path) as fh:
        return json.load(fh)
