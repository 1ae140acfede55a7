"""Seeded input generators and the ground truth each input should produce.

Every generator is a pure function of its seed and size: the same seed
gives byte-identical files, another seed gives other content of the same
shape (same row counts, same planted structure), so per-pass cost does
not depend on which seed a run was given.
"""

from __future__ import annotations

import json
import os
import string

import numpy as np

# --- knowledge graph: Ensembl-like TSV sources -------------------------------

KG_FILES = ("genes", "proteins", "encodes", "interacts")
DELTA_FILES = ("delta_genes", "delta_interacts")

_BIOTYPES = ("protein_coding", "lncRNA", "miRNA", "pseudogene", "snRNA")
_CHROMS = tuple(str(i) for i in range(1, 23)) + ("X", "Y", "MT")
_EVIDENCE = ("ECO:0000269", "ECO:0000250", "ECO:0000313", "ECO:0007669")
_METHODS = ("two-hybrid", "affinity-capture", "co-crystal", "text-mining", "pca")


def _ids(rng, prefix: str, n: int, taken: set | None = None) -> list[str]:
    nums = rng.choice(10**9, size=n + (len(taken) if taken else 0) + 16, replace=False)
    out = []
    for x in nums:
        s = f"{prefix}{x:011d}"
        if taken is None or s not in taken:
            out.append(s)
            if len(out) == n:
                break
    return out


def _word(rng, lo: int = 3, hi: int = 9) -> str:
    letters = rng.integers(0, 26, size=int(rng.integers(lo, hi)))
    return "".join(string.ascii_lowercase[i] for i in letters)


def _write_tsv(path: str, header: list[str], rows: list[tuple]) -> None:
    with open(path, "w") as fh:
        fh.write("# generated by perfbench/gen.py\n")
        fh.write("\t".join(header) + "\n")
        for r in rows:
            fh.write("\t".join(str(v) for v in r) + "\n")


class _Truth:
    """Expected PG elements: labels, endpoints and property value sets."""

    def __init__(self):
        self.elems: dict[str, dict] = {}

    def add(self, eid, label, props, frm=None, to=None):
        e = self.elems.setdefault(
            eid, {"labels": set(), "from": None, "to": None, "props": {}}
        )
        if label is not None:
            e["labels"].add(label)
        if frm is not None:
            e["from"], e["to"] = frm, to
        for k, v in props.items():
            e["props"].setdefault(k, set()).add(v)

    def counts(self) -> dict:
        n_edges = sum(1 for e in self.elems.values() if e["from"] is not None)
        return {"elements": len(self.elems), "edges": n_edges,
                "nodes": len(self.elems) - n_edges}

    def sample(self, rng, n: int) -> dict:
        ids = sorted(self.elems)
        pick = rng.choice(len(ids), size=min(n, len(ids)), replace=False)
        out = {}
        for i in sorted(pick):
            e = self.elems[ids[i]]
            out[ids[i]] = {
                "labels": sorted(e["labels"]),
                "from": e["from"],
                "to": e["to"],
                "props": {k: sorted(v, key=repr) for k, v in e["props"].items()},
            }
        return out


def _gene_rows(rng, ids):
    rows = []
    for g in ids:
        begin = int(rng.integers(1, 10**8))
        base = (g, _word(rng).upper(), _CHROMS[int(rng.integers(len(_CHROMS)))],
                begin, begin + int(rng.integers(500, 200_000)),
                _BIOTYPES[int(rng.integers(len(_BIOTYPES)))])
        rows.append(base + (_word(rng),))
    return rows


def _add_genes(truth: _Truth, rows):
    for g, name, chrom, b, e, bt, syn in rows:
        truth.add(g, "Gene", {"name": name, "chromosome": chrom, "begin": b,
                              "end": e, "biotype": bt, "synonym": syn,
                              "dataSources": "ensembl"})


def _add_interacts(truth: _Truth, rows):
    for a, b, score, method in rows:
        truth.add(f"interacts:{a}-{b}", "interacts",
                  {"score": score, "method": method}, a, b)


def make_kg(out_dir: str, seed: int, n_genes: int, delta_share: float) -> dict:
    """Write genes/proteins/encodes/interacts TSVs, a delta batch of
    ``delta_share`` x genes new genes and interactions plus as many rows
    touching existing ids, and ``truth.json`` (element counts and sampled
    elements, before and after the delta). Element ids recur within and
    across files: genes repeat with extra synonyms, the protein file also
    annotates its gene (``hasProtein``), and protein pairs interact by
    several methods."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    truth = _Truth()

    genes = _ids(rng, "ENSG", n_genes)
    gene_rows = _gene_rows(rng, genes)
    # ~10% of genes carry a second row with another synonym
    for i in rng.choice(n_genes, size=n_genes // 10, replace=False):
        gene_rows.append(gene_rows[i][:6] + (_word(rng),))
    _write_tsv(f"{out_dir}/genes.tsv",
               ["gene_id", "name", "chromosome", "begin", "end", "biotype", "synonym"],
               gene_rows)
    _add_genes(truth, gene_rows)

    # one protein per gene, plus a second isoform for ~10% of genes
    owners = genes + [genes[i] for i in rng.choice(n_genes, size=n_genes // 10, replace=False)]
    proteins = _ids(rng, "ENSP", len(owners))
    prot_rows = [(p, g, _word(rng), int(rng.integers(50, 3000)))
                 for p, g in zip(proteins, owners)]
    _write_tsv(f"{out_dir}/proteins.tsv", ["protein_id", "gene_id", "name", "length"],
               prot_rows)
    for p, g, name, length in prot_rows:
        truth.add(p, "Protein", {"name": name, "length": length})
        truth.add(g, None, {"hasProtein": p})

    enc_rows = [(g, p, _EVIDENCE[int(rng.integers(len(_EVIDENCE)))])
                for p, g, _, _ in prot_rows]
    for i in rng.choice(len(enc_rows), size=len(enc_rows) // 20, replace=False):
        g, p, _ = enc_rows[i]
        enc_rows.append((g, p, _EVIDENCE[int(rng.integers(len(_EVIDENCE)))]))
    _write_tsv(f"{out_dir}/encodes.tsv", ["gene_id", "protein_id", "evidence"], enc_rows)
    for g, p, ev in enc_rows:
        truth.add(f"encodes:{g}-{p}", "encodes", {"evidence": ev}, g, p)

    def interact_rows(n, pool):
        a = rng.integers(0, len(pool), size=n)
        b = (a + rng.integers(1, len(pool), size=n)) % len(pool)
        return [(pool[x], pool[y], int(rng.integers(0, 1000)),
                 _METHODS[int(rng.integers(len(_METHODS)))]) for x, y in zip(a, b)]

    int_rows = interact_rows(2 * n_genes, proteins)
    for i in rng.choice(len(int_rows), size=len(int_rows) // 10, replace=False):
        a, b, _, _ = int_rows[i]
        int_rows.append((a, b, int(rng.integers(0, 1000)),
                         _METHODS[int(rng.integers(len(_METHODS)))]))
    _write_tsv(f"{out_dir}/interacts.tsv",
               ["protein_a", "protein_b", "score", "method"], int_rows)
    _add_interacts(truth, int_rows)

    meta = {"base": truth.counts(), "base_sample": truth.sample(rng, 200)}
    n_new = max(1, int(n_genes * delta_share))
    new_genes = _ids(rng, "ENSG", n_new, taken=set(genes))
    d_genes = _gene_rows(rng, new_genes)
    # existing genes gain a synonym
    d_genes += [gene_rows[i][:6] + (_word(rng),)
                for i in rng.choice(n_genes, size=n_new, replace=False)]
    _write_tsv(f"{out_dir}/delta_genes.tsv",
               ["gene_id", "name", "chromosome", "begin", "end", "biotype", "synonym"],
               d_genes)
    _add_genes(truth, d_genes)
    # new interactions, plus existing pairs seen by another method
    d_int = interact_rows(2 * n_new, proteins)
    d_int += [int_rows[i][:2] + (int(rng.integers(0, 1000)),
                                 _METHODS[int(rng.integers(len(_METHODS)))])
              for i in rng.choice(len(int_rows), size=n_new, replace=False)]
    _write_tsv(f"{out_dir}/delta_interacts.tsv",
               ["protein_a", "protein_b", "score", "method"], d_int)
    _add_interacts(truth, d_int)
    meta["merged"] = truth.counts()
    meta["merged_sample"] = truth.sample(rng, 200)
    with open(f"{out_dir}/truth.json", "w") as fh:
        json.dump(meta, fh)
    return meta


# --- document corpus ------------------------------------------------------------


def make_corpus(out_dir: str, seed: int, n_docs: int) -> dict:
    """Write ``documents.parquet`` with planted structure and
    ``truth.json``:

    * 5% low-quality docs (too short, or mostly digits) that the quality
      gate drops;
    * 5% exact copies of clean docs;
    * near-duplicate clusters: 4% of docs are variants of a clean base doc
      with 2 of ~60 tokens replaced, word-3-shingle Jaccard >= 0.7 to the
      base (threshold 0.5), while unrelated docs share almost no shingle;
    * 200 eight-word passages, each planted in 4 random clean docs, so
      whichever copies land in the test split contaminate train docs.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    vocab = sorted({_word(rng, 4, 10) for _ in range(12000)})
    vocab_arr = np.array(vocab)

    def clean(n_tok):
        return list(vocab_arr[rng.integers(0, len(vocab_arr), size=n_tok)])

    n_low = n_docs // 20
    n_exact = n_docs // 20
    n_near = n_docs // 25
    n_clean = n_docs - n_low - n_exact - n_near
    docs = [clean(int(rng.integers(45, 80))) for _ in range(n_clean)]

    passages = [clean(8) for _ in range(200)]
    for p in passages:
        for i in rng.choice(n_clean, size=4, replace=False):
            pos = int(rng.integers(0, len(docs[i])))
            docs[i] = docs[i][:pos] + p + docs[i][pos:]

    texts = [" ".join(d) for d in docs]
    kinds = ["clean"] * n_clean
    near_bases = rng.choice(n_clean, size=n_near // 2, replace=False)
    for k in range(n_near):
        base = docs[near_bases[k % len(near_bases)]]
        var = list(base)
        for pos in rng.choice(len(var), size=2, replace=False):
            word = var[pos]
            while word == var[pos]:  # a no-op edit would plant an exact copy
                word = vocab[int(rng.integers(len(vocab)))]
            var[pos] = word
        texts.append(" ".join(var))
        kinds.append(f"near:{near_bases[k % len(near_bases)]}")
    for i in rng.choice(n_clean, size=n_exact, replace=False):
        texts.append(texts[i])
        kinds.append(f"exact:{i}")
    for k in range(n_low):
        if k % 2:
            texts.append(" ".join(clean(int(rng.integers(5, 15)))))
        else:
            texts.append(" ".join(str(x) for x in rng.integers(0, 10**6, size=40)))
        kinds.append("low")

    # random ids, so planted copies sit anywhere in the id order
    n = len(texts)
    doc_ids = rng.permutation(n)  # id of texts[j]
    by_id = np.argsort(doc_ids)
    table = pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": [texts[j] for j in by_id],
        "lang": ["en"] * n,
        "source": [f"src{i % 7}" for i in range(n)],
        "n_chars": pa.array([len(texts[j]) for j in by_id], pa.int64()),
    })
    pq.write_table(table, f"{out_dir}/documents.parquet")

    clusters: dict[str, list[int]] = {}
    for j, kind in enumerate(kinds):
        if kind.startswith(("near:", "exact:")):
            base = int(kind.split(":")[1])
            key = f"{kind.split(':')[0]}:{doc_ids[base]}"
            clusters.setdefault(key, [int(doc_ids[base])]).append(int(doc_ids[j]))
    meta = {
        "raw": n,
        "quality": n - n_low,
        "exact_dedup": n - n_low - n_exact,
        "near_dedup": n - n_low - n_exact - n_near,
        "clusters": clusters,
    }
    with open(f"{out_dir}/truth.json", "w") as fh:
        json.dump(meta, fh)
    return meta
