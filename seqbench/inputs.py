"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed and shape, so the same
seed gives byte-identical files. The genotype generators also return the
per-variant counts the correctness check compares the engine against.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np

# The genotype mix of tools/ingest_bench.py: phased and unphased calls,
# about 5% fully missing. Columns: (allele 1, allele 2, phased, missing).
_GT_MIX = [
    ((0, 0, True, False), 40),
    ((0, 1, True, False), 15),
    ((1, 0, True, False), 15),
    ((1, 1, True, False), 10),
    ((0, 0, False, True), 5),
    ((0, 0, False, False), 10),
    ((1, 1, False, False), 5),
]
TRIALLELIC_SHARE = 0.02
# at a triallelic site each ALT allele of a call is allele 2 with this chance
SECOND_ALT_SHARE = 0.4
N_CHROM = 22
BASES = "ACGT"


@dataclass
class Cohort:
    """Generated genotypes plus the generator's own per-variant counts."""

    chromosome: np.ndarray  # str, sorted by chromosome then position
    position: np.ndarray  # int64, unique across the cohort
    triallelic: np.ndarray  # bool
    a1: np.ndarray  # int8 [n_var, n_samp]
    a2: np.ndarray  # int8 [n_var, n_samp]
    phased: np.ndarray  # bool [n_var, n_samp]
    missing: np.ndarray  # bool [n_var, n_samp]

    @property
    def n_variants(self) -> int:
        return self.a1.shape[0]

    @property
    def n_samples(self) -> int:
        return self.a1.shape[1]

    @property
    def n_calls(self) -> int:
        return self.a1.size

    def expected_counts(self) -> dict[int, tuple[int, int]]:
        """position -> (REF allele count, AN) over non-missing slots."""
        called = ~self.missing
        ref = ((self.a1 == 0) & called).sum(axis=1) + ((self.a2 == 0) & called).sum(axis=1)
        an = 2 * called.sum(axis=1)
        return {
            int(p): (int(r), int(a))
            for p, r, a in zip(self.position, ref, an)
        }


def make_cohort(seed: int, n_variants: int, n_samples: int) -> Cohort:
    rng = np.random.default_rng(seed)
    kinds = np.array([k for k, _ in _GT_MIX], dtype=object)
    weights = np.array([w for _, w in _GT_MIX], dtype=float)
    pick = rng.choice(len(kinds), size=(n_variants, n_samples), p=weights / weights.sum())
    table = np.array([k for k, _ in _GT_MIX], dtype=np.int8)
    a1 = table[pick, 0].copy()
    a2 = table[pick, 1].copy()
    phased = table[pick, 2].astype(bool)
    missing = table[pick, 3].astype(bool)
    triallelic = rng.random(n_variants) < TRIALLELIC_SHARE
    flip1 = (rng.random(a1.shape) < SECOND_ALT_SHARE) & triallelic[:, None]
    flip2 = (rng.random(a2.shape) < SECOND_ALT_SHARE) & triallelic[:, None]
    a1[(a1 == 1) & flip1] = 2
    a2[(a2 == 1) & flip2] = 2
    # chromosomes in contiguous sorted blocks, as a real VCF is, so a
    # chromosome-pruned read can skip most of a container
    chrom_idx = (np.arange(n_variants) * N_CHROM) // n_variants
    # about 20 variants per 50 kb LD window
    gaps = rng.integers(1, 5000, size=n_variants)
    position = np.cumsum(gaps).astype(np.int64)
    return Cohort(
        chromosome=np.array([str(c + 1) for c in chrom_idx]),
        position=position,
        triallelic=triallelic,
        a1=a1,
        a2=a2,
        phased=phased,
        missing=missing,
    )


def _gt_strings() -> np.ndarray:
    """Lookup (a1 * 3 + a2) * 2 + phased -> GT text."""
    out = []
    for a in range(3):
        for b in range(3):
            out.append(f"{a}/{b}")
            out.append(f"{a}|{b}")
    return np.array(out, dtype=object)


def write_vcf(cohort: Cohort, path: str) -> int:
    """Write `cohort` as VCF text; returns the file size in bytes."""
    gts = _gt_strings()
    code = (cohort.a1.astype(np.int64) * 3 + cohort.a2) * 2 + cohort.phased
    text = gts[code]
    text[cohort.missing] = "./."
    n_samp = cohort.n_samples
    with open(path, "w") as fh:
        fh.write("##fileformat=VCFv4.2\n")
        fh.write('##INFO=<ID=DP,Number=1,Type=Integer,Description="depth">\n')
        fh.write('##FORMAT=<ID=GT,Number=1,Type=String,Description="genotype">\n')
        for c in range(1, N_CHROM + 1):
            fh.write(f"##contig=<ID={c}>\n")
        fh.write(
            "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\t"
            + "\t".join(f"S{i:04d}" for i in range(n_samp))
            + "\n"
        )
        for v in range(cohort.n_variants):
            ref = BASES[v % 4]
            alt = BASES[(v + 1) % 4]
            if cohort.triallelic[v]:
                alt += "," + BASES[(v + 2) % 4]
            fh.write(
                f"{cohort.chromosome[v]}\t{cohort.position[v]}\t.\t{ref}\t{alt}"
                f"\t30\tPASS\tDP={v % 100}\tGT\t"
                + "\t".join(text[v])
                + "\n"
            )
    return os.path.getsize(path)


# ---------------------------------------------------------------------------
# LLM-data tables (the registry's documents / embeddings schemas)
# ---------------------------------------------------------------------------

_VOCAB = (
    "key agg row scan slow fast table value part hash batch merge spark "
    "line sort window order data column join small customer query group "
    "stream filter big the a of to in and model token train eval corpus "
    "shard index vector cell probe code"
).split()
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]
LLM_TABLES = ("documents", "embeddings")
NEAR_DUP_SHARE = 0.05
EMB_DIM = 64


def write_llm_tables(seed: int, n_docs: int, n_vecs: int, out_dir: str) -> dict[str, int]:
    """Write seeded `documents` (5% planted near-duplicates) and
    unit-vector `embeddings` parquet tables into `out_dir`.

    The other registry tables are written as one-row placeholders: the
    oracle harness opens a view over every table name, and the dedup
    gates and their oracles read only these two. Returns the bytes of
    each real table.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    texts: list[str] = []
    for i in range(n_docs):
        if i > 0 and rng.random() < NEAR_DUP_SHARE:
            # near-duplicate: an earlier document with one word changed
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = _VOCAB[int(rng.integers(0, len(_VOCAB)))]
        else:
            n_words = int(rng.integers(20, 80))
            words = [_VOCAB[j] for j in rng.integers(0, len(_VOCAB), size=n_words)]
        texts.append(" ".join(words))
    docs = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(["en"] * n_docs),
            "source": pa.array([f"src{i % 7}" for i in range(n_docs)]),
            "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
        }
    )
    vecs = rng.standard_normal((n_vecs, EMB_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    emb = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 4, size=n_vecs).astype(np.int32)),
        }
    )
    sizes = {}
    for name, tbl in (("documents", docs), ("embeddings", emb)):
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tbl, path)
        sizes[name] = os.path.getsize(path)
    for name in TABLES:
        if name not in LLM_TABLES:
            pq.write_table(
                pa.table({"placeholder": pa.array([0], type=pa.int64())}),
                os.path.join(out_dir, f"{name}.parquet"),
            )
    return sizes
