"""Seeded inputs for the benchmark workloads, written as Parquet.

The same seed gives the same tables. Every shape comes from
`fixture_profile.json`, measured on the engine's sf0.1 fixture tables by
`profile_fixture.py`: `events` batches (users, event types, exponential
values and timestamp gaps), `documents` (word counts, the 30-word
vocabulary, language shares, sources, and near-duplicates that copy a
document and append a marker word) and `embeddings` (isotropic unit
vectors with labels that carry no direction). Only the row counts are the
benchmark's own. Each table is a directory `<name>.parquet/` of Parquet
files, so both Spark (`graft.Tables`) and DuckDB read it.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixture_profile.json")) as _fh:
    PROFILE = json.load(_fh)
EPOCH_2024 = 1704067200 * 1000000  # 2024-01-01, the fixture's first day


def _rng(seed, tag):
    return np.random.default_rng([seed, tag])


def _write(table, path, files=1):
    """Writes `table` as `files` Parquet files of about equal rows."""
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // files)
    for i in range(files):
        pq.write_table(table.slice(i * step, step),
                       os.path.join(path, "part-%05d.parquet" % i))


def lake_rounds(out, seed, rounds, new_per_round, resent_per_round, tombs_per_round):
    """Seeded `events` batches for the lake workload: round r brings
    `new_per_round` new keys, re-sends `resent_per_round` live keys with a
    new type and value (updates) and tombstones `tombs_per_round` others.
    Writes batches/round<r>.parquet (new and re-sent rows) and rounds.json
    (re-sent keys, tombstones and a user to read back, per round)."""
    p = PROFILE["events"]
    types = p["event_types"]
    r = _rng(seed, 7)
    live = {}
    meta = []
    ts = EPOCH_2024

    def value():
        if r.random() < p["value_null_share"]:
            return None
        return round(float(r.exponential(p["value_mean"])), 2)

    for i in range(rounds):
        fresh = []
        for k in range(i * new_per_round, (i + 1) * new_per_round):
            ts += int(r.exponential(p["ts_gap_mean_s"] * 1e6))
            fresh.append({"event_id": k, "ts": ts,
                          "user_id": int(r.integers(0, p["users"])),
                          "event_type": types[int(r.integers(0, len(types)))],
                          "value": value(),
                          "props": '{"k": %d}' % int(r.integers(0, p["props_k_max"] + 1))})
        chosen = []
        if i > 0:
            keys = sorted(live)
            picks = r.choice(len(keys), resent_per_round + tombs_per_round, replace=False)
            chosen = [keys[j] for j in picks]
        resent, tombs = chosen[:resent_per_round], chosen[resent_per_round:]
        updated = [dict(live[k], event_type=types[int(r.integers(0, len(types)))], value=value())
                   for k in resent]
        for k in tombs:
            del live[k]
        rows = updated + fresh
        for e in rows:
            live[e["event_id"]] = e
        meta.append({"resent": resent, "tombs": tombs, "read_user": fresh[0]["user_id"]})
        _write(pa.table({
            "event_id": pa.array([e["event_id"] for e in rows], pa.int64()),
            "ts": pa.array([e["ts"] for e in rows], pa.timestamp("us", tz="UTC")),
            "user_id": pa.array([e["user_id"] for e in rows], pa.int64()),
            "event_type": pa.array([e["event_type"] for e in rows], pa.string()),
            "value": pa.array([e["value"] for e in rows], pa.float64()),
            "props": pa.array([e["props"] for e in rows], pa.string())}),
            os.path.join(out, "batches", "round%d.parquet" % i))
    with open(os.path.join(out, "rounds.json"), "w") as fh:
        json.dump({"new_per_round": new_per_round, "rounds": meta}, fh)


def documents(out, seed, n_docs):
    """`documents`: originals of uniform word count drawn uniformly from the
    vocabulary; a `dup_share` of the rows copy an earlier original and
    append the marker word, as the fixture's near-duplicates do."""
    p = PROFILE["documents"]
    vocab = np.asarray(p["vocab"], dtype=object)
    r = _rng(seed, 8)
    dup = np.zeros(n_docs, dtype=bool)
    dup[1 + r.choice(n_docs - 1, int(round(p["dup_share"] * n_docs)), replace=False)] = True
    rows = []
    for i in range(n_docs):
        if dup[i]:
            originals = np.flatnonzero(~dup[:i])
            rows.append(rows[originals[int(r.integers(0, len(originals)))]] + " " + p["dup_marker"])
        else:
            n = int(r.integers(p["words_min"], p["words_max"] + 1))
            rows.append(" ".join(vocab[r.integers(0, len(vocab), n)]))
    langs = sorted(p["lang_share"])
    shares = np.asarray([p["lang_share"][k] for k in langs])
    lang = np.asarray(langs, dtype=object)[r.choice(len(langs), n_docs, p=shares / shares.sum())]
    ids = np.arange(n_docs, dtype=np.int64)
    _write(pa.table({
        "doc_id": pa.array(ids),
        "text": pa.array(rows, pa.string()),
        "lang": pa.array(lang, pa.string()),
        "source": pa.array(["src%d" % (i % p["sources"]) for i in ids]),
        "n_chars": pa.array([len(t) for t in rows], pa.int64())}),
        os.path.join(out, "documents.parquet"), files=4)


def embeddings(out, seed, n_vec):
    """`embeddings`: normalised Gaussian (isotropic) unit vectors with a
    uniform label, as in the fixture."""
    p = PROFILE["embeddings"]
    r = _rng(seed, 9)
    raw = r.standard_normal((n_vec, p["dim"]))
    unit = (raw / np.linalg.norm(raw, axis=1, keepdims=True)).astype(np.float32)
    _write(pa.table({
        "vec_id": pa.array(np.arange(n_vec, dtype=np.int64)),
        "embedding": pa.array(list(unit), pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, p["labels"], n_vec).astype(np.int32))}),
        os.path.join(out, "embeddings.parquet"), files=4)
