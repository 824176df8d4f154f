"""Independent replay of the `Pipeline.curate` funnel counts.

Mirrors the stages of `graft.Pipeline.curate` with its defaults (PII
scrub, quality >= 0.5, exact dedup on the text, near-dedup at 8-byte
shingle Jaccard >= 0.9 dropping the higher doc_id, no sampling), using
the exact all-pairs Jaccard where the engine uses MinHash LSH.
"""
import re

import pyarrow.parquet as pq

PII = [(r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
       (r"\b([0-9]{1,3}\.){3}[0-9]{1,3}\b", "<IP>"),
       (r"\b[0-9]{3}[- .][0-9]{3,4}[- .][0-9]{4}\b", "<PHONE>")]
STOP = {"the", "a", "and", "of", "to"}
PUNCT = re.compile(r"[^a-z0-9 ]")
MIN_QUALITY = 0.5
NEAR_JACCARD = 0.9
SHINGLE = 8


def quality(text):
    toks = text.split(" ")
    n = len(toks)
    stop = sum(1 for t in toks if t in STOP)
    return (0.4 * min(n / 100.0, 1.0)
            + 0.3 * (1.0 - len(PUNCT.findall(text)) / len(text))
            + 0.3 * min(stop / n * 5.0, 1.0))


def shingles(text):
    b = text.encode("utf-8")
    return {b[i:i + SHINGLE] for i in range(max(1, len(b) - SHINGLE + 1))}


def near_dups(docs):
    """Higher ids of all pairs with Jaccard >= NEAR_JACCARD (prefix
    filtering: two sets can only reach the threshold if their prefixes
    in a global token order share a token)."""
    sets = {i: shingles(t) for i, t in docs}
    freq = {}
    for s in sets.values():
        for x in s:
            freq[x] = freq.get(x, 0) + 1
    index = {}
    drop = set()
    for i in sorted(sets):
        s = sets[i]
        order = sorted(s, key=lambda x: (freq[x], x))
        prefix = order[:len(s) - int(NEAR_JACCARD * len(s) + 1e-9) + 1]
        cands = set()
        for x in prefix:
            cands.update(index.get(x, ()))
        for j in cands:
            inter = len(s & sets[j])
            if round(inter / (len(s) + len(sets[j]) - inter), 6) >= NEAR_JACCARD:
                drop.add(max(i, j))
        for x in prefix:
            index.setdefault(x, []).append(i)
    return drop


def funnel(documents_parquet):
    t = pq.read_table(documents_parquet, columns=["doc_id", "text"]).to_pydict()
    docs = list(zip(t["doc_id"], t["text"]))
    scrubbed = []
    for i, text in docs:
        for pat, tag in PII:
            text = re.sub(pat, tag, text)
        scrubbed.append((i, text))
    kept = [(i, x) for i, x in scrubbed if quality(x) >= MIN_QUALITY]
    first = {}
    for i, x in sorted(kept):
        first.setdefault(x, i)
    exact = sorted((i, x) for x, i in first.items())
    after_near = len(exact) - len(near_dups(exact))
    return {"input": len(docs), "after_quality": len(kept),
            "after_exact": len(exact), "after_near": after_near,
            "after_sample": after_near}
