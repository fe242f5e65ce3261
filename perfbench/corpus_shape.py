#!/usr/bin/env python3
"""Shape of a corpus the operator_queries workload reads.

    python3 perfbench/corpus_shape.py <dir>

<dir> holds documents.parquet and embeddings.parquet, each a file or a
directory of parquet files (the sf0.1 test data, or the tables a run
generates). Prints one JSON object with the figures the operator queries'
work depends on: vocabulary and document lengths (BPE training, the text
kernels), near-copies and the duplicate components they form (MinHash-LSH
candidates, the rounds of the cluster labelling), the document frequency of
the fixed 10-word chunks and of the content-defined chunks (the hot keys of
the chunk rewrites), and the geometry of the embeddings.
"""
import collections
import json
import os
import sys

import duckdb


def scan(d, t):
    p = os.path.join(d, f"{t}.parquet")
    return f"parquet_scan('{p}/*.parquet')" if os.path.isdir(p) else f"'{p}'"


def quartiles(xs):
    s = sorted(xs)
    return [s[0], s[len(s) // 4], s[len(s) // 2], s[3 * len(s) // 4], s[-1]]


def poly_hash(s):
    """The engine's PolyHash: fold(h * 31 + code point) mod 1e9+7."""
    h = 0
    for c in s:
        h = (h * 31 + ord(c)) % 1000000007
    return h


def df_tail(chunks_per_doc):
    """Distinct chunks by the number of documents they occur in."""
    df = collections.Counter(c for cs in chunks_per_doc for c in set(cs))
    buckets = collections.Counter(
        "1" if n == 1 else "2" if n == 2 else "3-4" if n <= 4 else ">4"
        for n in df.values())
    return {"distinct": len(df), "by_df": dict(sorted(buckets.items())),
            "max_df": max(df.values())}


def cdc_chunks(ws, hot):
    """Content-defined chunks as Dedup.cdcRewrite cuts them (modulus 16):
    a word whose hash is 0 mod 16 starts a new chunk."""
    out, cur = [], []
    for w in ws:
        if w in hot and cur:
            out.append(" ".join(cur))
            cur = []
        cur.append(w)
    if cur:
        out.append(" ".join(cur))
    return out


def components(texts):
    """Sizes of the components linking each copy (text + " dup") to every
    document with its original text, and exact duplicates to each other."""
    by_text = collections.defaultdict(list)
    for i, t in enumerate(texts):
        by_text[t].append(i)
    parent = list(range(len(texts)))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        parent[find(a)] = find(b)

    for ids in by_text.values():
        for j in ids[1:]:
            union(ids[0], j)
    for i, t in enumerate(texts):
        if t.endswith(" dup") and t[:-4] in by_text:
            union(i, by_text[t[:-4]][0])
    sizes = collections.Counter(find(i) for i in range(len(texts)))
    return dict(sorted(collections.Counter(
        n for n in sizes.values() if n > 1).items()))


def documents(con, d):
    rows = con.sql(f"SELECT doc_id, text, lang, source FROM {scan(d, 'documents')} "
                   "ORDER BY doc_id").fetchall()
    texts = [r[1] for r in rows]
    words = [t.split(" ") for t in texts]
    wc = collections.Counter(w for ws in words for w in ws)
    first = {}
    for i, t in enumerate(texts):
        first.setdefault(t, i)
    copies = [i for i, t in enumerate(texts) if t.endswith(" dup")]
    originals = [len(ws) for t, ws in zip(texts, words) if not t.endswith(" dup")]
    langs = collections.Counter(r[2] for r in rows)
    sources = collections.Counter(r[3] for r in rows)
    hot = {w for w in wc if poly_hash(w) % 16 == 0}
    plain = [w for w in wc if w != "dup"]
    return {
        "rows": len(rows),
        "vocabulary": len(wc),
        "word_share_max_over_min": round(
            max(wc[w] for w in plain) / min(wc[w] for w in plain), 3),
        "words_per_original_min_q1_median_q3_max": quartiles(originals),
        "mean_word_chars": round(
            sum(len(w) * n for w, n in wc.items()) / sum(wc.values()), 3),
        "lang_shares": {k: round(v / len(rows), 3)
                        for k, v in sorted(langs.items())},
        "sources": len(sources),
        "docs_per_source_min_max": [min(sources.values()),
                                    max(sources.values())],
        "copies": len(copies),
        "copies_before_their_original": sum(
            1 for i in copies if texts[i][:-4] in first
            and first[texts[i][:-4]] > i),
        "copies_of_copies": sum(1 for i in copies
                                if texts[i][:-4].endswith(" dup")),
        "copies_without_original": sum(1 for i in copies
                                       if texts[i][:-4] not in first),
        "exact_duplicate_texts": sum(
            1 for n in collections.Counter(texts).values() if n > 1),
        "duplicate_component_sizes": components(texts),
        "chunk10_df": df_tail([[" ".join(ws[k:k + 10])
                                for k in range(0, len(ws), 10)]
                               for ws in words]),
        "cdc_boundary_words": sorted(hot),
        "cdc_df": df_tail([cdc_chunks(ws, hot) for ws in words]),
    }


def embeddings(con, d):
    t = scan(d, "embeddings")
    n, dims, lo, hi, labels = con.sql(
        f"SELECT count(*), max(len(embedding)), "
        f"min(sqrt(list_sum(list_transform(embedding, x -> x * x)))), "
        f"max(sqrt(list_sum(list_transform(embedding, x -> x * x)))), "
        f"count(DISTINCT label) FROM {t}").fetchone()
    # cosine to the own-label centroid: about 1/sqrt(rows per label) when
    # labels are independent of the vectors, near 1 for tight clusters
    own = con.sql(f"""
        WITH e AS (SELECT vec_id, label, unnest(embedding) AS x,
                          generate_subscripts(embedding, 1) AS k FROM {t}),
        c AS (SELECT label, k, avg(x) AS m FROM e GROUP BY label, k),
        cn AS (SELECT label, sqrt(sum(m * m)) AS nrm FROM c GROUP BY label)
        SELECT avg(cosv) FROM (
          SELECT e.vec_id, sum(e.x * c.m) / any_value(cn.nrm) AS cosv
          FROM e JOIN c USING (label, k) JOIN cn USING (label)
          GROUP BY e.vec_id)""").fetchone()[0]
    return {"rows": n, "dims": dims, "norm_min_max": [round(lo, 5), round(hi, 5)],
            "labels": labels, "mean_cos_to_label_centroid": round(own, 4)}


def main():
    if len(sys.argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    con = duckdb.connect()
    print(json.dumps({"documents": documents(con, sys.argv[1]),
                      "embeddings": embeddings(con, sys.argv[1])}, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
