"""Seeded input generator for the benchmark workloads.

Every file is a pure function of (workload, seed, seconds): the same
arguments give byte-identical parquet files.  The program under test only
ever sees these files.  Ground truth about what was planted (duplicate
groups, late and replayed events) goes to ``truth.json`` beside them.

Layouts follow ``graft.Tables``: one ``<table>.parquet`` per table (a file,
or a directory of files), with the column names and types of the
repository's test tables.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CURATE_FILES = 4         # curate: corpus files, one partition per slot of a 4-core run
CURATE_DOCS = 3000       # curate: distinct base documents before planting
STREAM_DELTA_MS = 3000   # stream: generator append interval (Stream.DeltaMs)
STREAM_PER_BATCH = 1000  # stream: events per phase-2 append, before replays
STREAM_BACKLOG = 40000   # stream: phase-1 pre-written events
STREAM_USERS = 4000
STREAM_DELAY_MS = 10000  # watermark delay the stream pipeline uses
STREAM_LATE_MS = 600000  # late events sit this far behind their creation

# Stopword inventories of graft.functions.TextFunctions.stopwords.
STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "it", "that", "for", "with"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "auf", "für"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "es", "por", "con"],
    "fr": ["le", "la", "de", "et", "les", "des", "est", "un", "une", "dans"],
    "zh": ["的", "是", "不", "了", "在", "人", "有", "我", "他", "这"],
}
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_MIX = [0.40, 0.15, 0.15, 0.15, 0.15]


def _write(out, name, cols, parts=1):
    """Write `name`.parquet; with parts > 1, a directory of that many files
    of consecutive rows, which Spark reads as that many partitions."""
    table = pa.table(cols)
    path = os.path.join(out, f"{name}.parquet")
    if parts == 1:
        pq.write_table(table, path, compression="snappy")
        return
    os.makedirs(path)
    step = -(-table.num_rows // parts)
    for i in range(parts):
        pq.write_table(table.slice(i * step, step), os.path.join(path, f"part-{i:05d}.parquet"),
                       compression="snappy")


def _lang_vocab(rng, lang, size=5000):
    """Content words for one language: letters of its script, never a
    stopword of any inventory."""
    stop = {w for ws in STOPWORDS.values() for w in ws}
    if lang == "zh":
        alphabet = [chr(c) for c in range(0x4E30, 0x4E30 + 400)]
        lo, hi = 2, 4
    else:
        alphabet = list("abcdefghijklmnopqrstuvwxyz")
        if lang != "en":
            alphabet += list({"de": "äöüß", "es": "ñáé", "fr": "éèàç"}[lang])
        lo, hi = 3, 9
    out = set()
    while len(out) < size:
        n = int(rng.integers(lo, hi))
        w = "".join(alphabet[i] for i in rng.integers(0, len(alphabet), n))
        if w not in stop:
            out.add(w)
    return sorted(out)


def gen_corpus(out, rng, n_base=CURATE_DOCS):
    """`documents` with a 5-language mix, low-quality junk, and planted exact
    and near duplicates.  Doc ids are a seeded permutation, so copies are
    not simply the highest ids."""
    # Uniform content words and a modest stopword share keep the shingle
    # overlap of unrelated documents near zero, so MinHash candidates are
    # (almost) only the planted near duplicates.
    vocab = {lang: np.array(_lang_vocab(rng, lang)) for lang in LANGS}
    stop_arr = {lang: np.array(STOPWORDS[lang]) for lang in LANGS}
    texts, langs = [], []
    base_lang = rng.choice(5, n_base, p=LANG_MIX)
    lens = rng.integers(40, 140, n_base)
    for li, n in zip(base_lang, lens):
        lang = LANGS[li]
        words = vocab[lang][rng.integers(0, len(vocab[lang]), n)]
        mask = rng.random(n) < 0.12
        words[mask] = stop_arr[lang][rng.integers(0, 10, int(mask.sum()))]
        texts.append(" ".join(words))
        langs.append(lang)
    # junk: digit/punctuation soup that the quality filter must drop
    for i in rng.choice(n_base, n_base // 20, replace=False):
        toks = [f"{int(x)}" for x in rng.integers(0, 10**6, 40)]
        toks += ["".join("!#$%&*+/<=>?@"[j] for j in rng.integers(0, 13, 3)) for _ in range(8)]
        texts[i] = " ".join(toks)
    n_exact, n_near = n_base // 20, n_base // 20
    picks = rng.choice(n_base, n_exact + n_near, replace=False)
    exact_src, near_src = picks[:n_exact], picks[n_exact:]
    origin = list(range(n_base))
    kind = ["base"] * n_base
    for s in exact_src:
        texts.append(texts[s]); langs.append(langs[s]); origin.append(int(s)); kind.append("exact")
    for s in near_src:
        words = texts[s].split(" ")
        k = max(2, len(words) // 40)
        pos = rng.choice(len(words), k, replace=False)
        lang = langs[s]
        for p in pos:
            words[p] = vocab[lang][int(rng.integers(0, len(vocab[lang])))]
        texts.append(" ".join(words)); langs.append(lang); origin.append(int(s)); kind.append("near")
    n = len(texts)
    ids = rng.permutation(n).astype(np.int64) + 1000
    order = np.argsort(ids)
    _write(out, "documents", {
        "doc_id": pa.array(ids[order], pa.int64()),
        "text": [texts[i] for i in order],
        "lang": [langs[i] for i in order],
        "source": [f"src{int(ids[i]) % 20}" for i in order],
        "n_chars": pa.array([len(texts[i]) for i in order], pa.int64())}, parts=CURATE_FILES)
    exact_groups = {}
    for i in range(n_base, n):
        if kind[i] == "exact":
            exact_groups.setdefault(int(ids[origin[i]]), []).append(int(ids[i]))
    near_pairs = sorted(sorted((int(ids[origin[i]]), int(ids[i])))
                        for i in range(n_base, n) if kind[i] == "near")
    return {"docs": n, "exact_groups": exact_groups, "near_pairs": near_pairs,
            "distinct_texts": len(set(texts))}


def gen_stream(out, rng, seconds):
    """The stream workload's event schedule.  Times are relative: the
    harness turns `batch` into a due time and `ts_rel_ms` into an event
    time when it appends, so the file itself is deterministic."""
    n_batches = int(seconds * 1000 // STREAM_DELTA_MS) + 2
    per_batch = STREAM_PER_BATCH
    ranks = np.arange(1, STREAM_USERS + 1, dtype=np.float64)
    user_p = (1.0 / ranks ** 1.1) / (1.0 / ranks ** 1.1).sum()
    cols = {k: [] for k in ["batch", "event_id", "user_id", "kind", "amount",
                            "ts_rel_ms", "late", "replay"]}
    next_id = 0

    def emit(batch, n, allow_late, pool):
        """Rows of one generator batch; replays copy non-late rows of `pool`
        (the previous batch, or for the backlog the backlog itself) with
        their event time unchanged."""
        nonlocal next_id
        users = rng.choice(STREAM_USERS, n, p=user_p)
        ooo = rng.random(n) < 0.2
        late = (rng.random(n) < 0.02) if allow_late else np.zeros(n, bool)
        base = batch * STREAM_DELTA_MS
        rel = np.full(n, base, np.int64) if batch >= 0 else -rng.integers(1000, 60000, n)
        rel = rel - np.where(ooo, rng.integers(0, 4000, n), 0)
        rel = np.where(late, base - STREAM_LATE_MS, rel)
        rows = []
        for j in range(n):
            rows.append((batch, next_id, int(users[j]), int(rng.integers(0, 5)),
                         int(rng.integers(1, 100000)), int(rel[j]), bool(late[j]), False))
            next_id += 1
        src = [r for r in (rows if pool is None else pool) if not r[6]]
        n_rep = min(int(n * 0.03), len(src))
        for j in (rng.choice(len(src), n_rep, replace=False) if n_rep else []):
            r = src[int(j)]
            rows.append((batch, r[1], r[2], r[3], r[4], r[5], False, True))
        for r in rows:
            for k, v in zip(cols, r):
                cols[k].append(v)
        return rows

    emit(-1, STREAM_BACKLOG, False, None)
    prev = []  # no replays across the phase boundary: the two phases use different time bases
    for b in range(n_batches):
        prev = emit(b, per_batch, True, prev)
    _write(out, "stream_events", {
        "batch": pa.array(cols["batch"], pa.int32()),
        "event_id": pa.array(cols["event_id"], pa.int64()),
        "user_id": pa.array(cols["user_id"], pa.int64()),
        "kind": pa.array(cols["kind"], pa.int32()),
        "amount": pa.array(cols["amount"], pa.int64()),
        "ts_rel_ms": pa.array(cols["ts_rel_ms"], pa.int64()),
        "late": pa.array(cols["late"], pa.bool_()),
        "replay": pa.array(cols["replay"], pa.bool_())})
    return {"backlog": STREAM_BACKLOG, "batches": n_batches, "per_batch": per_batch,
            "delta_ms": STREAM_DELTA_MS, "delay_ms": STREAM_DELAY_MS,
            "events": len(cols["event_id"]),
            "late": int(sum(cols["late"])), "replays": int(sum(cols["replay"]))}


def generate(workload, seed, seconds, out):
    """Write the inputs of `workload` under `out`; return the ground truth."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(np.random.PCG64([seed, {"curate": 2, "stream": 3}[workload]]))
    if workload == "curate":
        truth = gen_corpus(out, rng)
    else:
        truth = gen_stream(out, rng, seconds)
    with open(os.path.join(out, "truth.json"), "w") as f:
        json.dump(truth, f, sort_keys=True)
    return truth

