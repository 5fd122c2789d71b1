#!/usr/bin/env python3
"""Measures the shapes of the engine's fixture tables that perfbench/datagen.py
copies, and prints them as JSON.

    python3 perfbench/profile_fixture.py <fixture dir> > perfbench/fixture_profile.json

The fixture dir holds `documents.parquet`, `embeddings.parquet` and
`events.parquet` as the engine's tests and `graft.Bench` read them (sf0.1 was
measured for the committed profile). The benchmark itself never reads the
fixture: it makes inputs of these shapes from its seed.
"""
import collections
import json
import os
import sys

import numpy as np
import pyarrow.parquet as pq


def documents(path):
    d = pq.read_table(path).to_pandas()
    texts = d.text.tolist()
    known = set(texts)
    # a near-duplicate is a copy of another document with one marker word
    # appended; the marker is the word those copies end with
    appended = collections.Counter(t.rsplit(" ", 1)[1] for t in texts
                                   if " " in t and t.rsplit(" ", 1)[0] in known)
    marker = appended.most_common(1)[0][0]
    is_dup = np.array([marker in t.split(" ") for t in texts])
    words = [t.split(" ") for t, dup in zip(texts, is_dup) if not dup]
    lengths = [len(w) for w in words]
    sources = d.source.nunique()
    return {
        "rows": len(d),
        "words_min": min(lengths), "words_max": max(lengths),
        "vocab": sorted({x for w in words for x in w}),
        "dup_marker": marker,
        "dup_share": round(float(is_dup.mean()), 4),
        "lang_share": {k: round(float(v), 4) for k, v in d.lang.value_counts(normalize=True).items()},
        "sources": sources,
        "source_is_id_mod": bool((d.source == "src" + (d.doc_id % sources).astype(str)).all()),
        "n_chars_is_len": bool((d.n_chars == d.text.str.len()).all()),
    }


def embeddings(path):
    e = pq.read_table(path).to_pandas()
    v = np.stack(e.embedding.values).astype(np.float64)
    labels = e.label.values
    # |mean of a label's unit vectors| * sqrt(count): about 1 when the
    # label carries no direction, much larger for clustered vectors
    spread = [float(np.linalg.norm(v[labels == k].mean(axis=0)) * np.sqrt((labels == k).sum()))
              for k in np.unique(labels)]
    z = v / v.std()
    return {
        "rows": len(e), "dim": v.shape[1], "labels": int(len(np.unique(labels))),
        "norm_min": round(float(np.linalg.norm(v, axis=1).min()), 6),
        "label_mean_resultant_x_sqrt_n": round(float(np.mean(spread)), 3),
        "component_kurtosis": round(float((z ** 4).mean()), 3),
    }


def events(path):
    ev = pq.read_table(path).to_pandas().sort_values("event_id")
    gaps = np.diff(ev.ts.values.astype("datetime64[us]").astype(np.int64)) / 1e6
    value = ev.value.dropna()
    k = ev.props.str.extract(r'"k": (\d+)')[0].astype(int)
    return {
        "rows": len(ev), "users": int(ev.user_id.nunique()),
        "event_types": sorted(ev.event_type.unique().tolist()),
        "event_type_share_max": round(float(ev.event_type.value_counts(normalize=True).max()), 4),
        "value_null_share": round(float(ev.value.isna().mean()), 4),
        "value_min": float(value.min()), "value_mean": round(float(value.mean()), 3),
        "value_median": float(value.median()),
        "ts_gap_mean_s": round(float(gaps.mean()), 3),
        "ts_gap_median_s": round(float(np.median(gaps)), 3),
        "props_k_max": int(k.max()),
    }


def main():
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    root = sys.argv[1]
    print(json.dumps({
        "fixture": os.path.basename(os.path.normpath(root)),
        "documents": documents(os.path.join(root, "documents.parquet")),
        "embeddings": embeddings(os.path.join(root, "embeddings.parquet")),
        "events": events(os.path.join(root, "events.parquet")),
    }, indent=1))


if __name__ == "__main__":
    main()
