"""Seeded input generator for the pipeline workloads.

Writes, for one (seed, shape):
  genome.fa      contigs of uniform random ACGT
  genes.gtf      exon lines; each gene has 1-4 isoforms, each isoform a
                 distinct contiguous run of the gene's exon template, so
                 isoforms of a gene overlap and share k-mers
  reads.fastq/   a directory of FASTQ shards (the CLI dispatches on the
                 `.fastq` suffix and the reader takes one shard per task)
  truth.tsv      transcript id <TAB> true relative abundance (sums to 1)

The program indexes a transcript as the hull of its exons on the genome
(graft.cli.Main.runIndex), so reads are drawn uniformly from that hull,
and the number of reads per transcript is proportional to its abundance
times the number of read start positions it offers. Every exon lies
inside its contig by construction.

The same (seed, shape) gives byte-identical files: all randomness comes
from one numpy Generator seeded with (seed, shape index).
"""
import hashlib
import os
import shutil

import numpy as np

READ_LEN = 75

# name -> (genes, reads, contigs, shards). A shape keeps the property its
# workload exists for (see README.md); sizes are fitted to the run length.
# Shard counts are fixed, not read from the host, so that a seed gives the
# same files everywhere; they are at least nproc on a 4-core host.
SHAPES = {
    "toy": (4, 1_000, 2, 4),
    "defaults": (12, 3_000, 4, 4),
    "bulk": (600, 400_000, 8, 8),
}

BASES = np.frombuffer(b"ACGT", dtype=np.uint8)


# Isoforms of a gene by their count, as runs (first, last) of the gene's
# four template exons: alternative first and last exons, nested in the
# full-length isoform. A fixed structure keeps the work and the
# identifiability of the isoforms alike from seed to seed; the seed
# draws sequence, exon and intron lengths, abundances and reads.
ISOFORMS = [[(0, 3)], [(0, 3), (1, 3)], [(0, 3), (0, 2), (1, 3)],
            [(0, 3), (0, 1), (1, 2), (2, 3)]]


def _layout(rng, genes):
    """Per gene g: its four template exons (offsets in the locus) and the
    runs of them its 1 + g % 4 isoforms take."""
    out = []
    for g in range(genes):
        exons, pos = [], 0
        for _ in range(4):
            w = int(rng.integers(140, 190))
            exons.append((pos, pos + w))
            pos += w + int(rng.integers(40, 80))
        out.append((exons[-1][1], exons, ISOFORMS[g % 4]))
    return out


def generate(out_dir, seed, shape):
    """Write the inputs for (seed, shape) into out_dir (created)."""
    genes, n_reads, n_contigs, shards = SHAPES[shape]
    rng = np.random.Generator(np.random.PCG64([seed, list(SHAPES).index(shape)]))
    layout = _layout(rng, genes)

    # place gene loci round-robin on contigs, 100-300 bp apart
    contig_len = [0] * n_contigs
    tx = []  # (tid, gene, contig, [(start, end)], hull_start, hull_end)
    for g, (locus, exons, isoforms) in enumerate(layout):
        c = g % n_contigs
        base = contig_len[c] + int(rng.integers(100, 300))
        contig_len[c] = base + locus
        for i, (a, b) in enumerate(isoforms):
            ex = [(base + s, base + e) for s, e in exons[a:b + 1]]
            tx.append((f"G{g}.{i}", f"G{g}", c, ex, ex[0][0], ex[-1][1]))
    contig_len = [n + int(rng.integers(100, 300)) for n in contig_len]
    genome = [BASES[rng.integers(0, 4, size=n)].tobytes() for n in contig_len]

    abund = rng.lognormal(0.0, 1.0, size=len(tx))
    truth = abund / abund.sum()
    starts = np.array([t[5] - t[4] - READ_LEN + 1 for t in tx], dtype=np.float64)
    weight = truth * starts
    counts = rng.multinomial(n_reads, weight / weight.sum())

    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, "genome.fa"), "wb") as f:
        for c, seq in enumerate(genome):
            f.write(b">chr%d\n" % c)
            for p in range(0, len(seq), 60):
                f.write(seq[p:p + 60] + b"\n")
    with open(os.path.join(out_dir, "genes.gtf"), "w") as f:
        f.write("#perfbench seed=%d shape=%s\n" % (seed, shape))
        for tid, gid, c, ex, _, _ in tx:
            for s, e in ex:
                f.write(f"chr{c}\tperfbench\texon\t{s + 1}\t{e}\t.\t+\t.\t"
                        f'gene_id "{gid}"; transcript_id "{tid}";\n')
    with open(os.path.join(out_dir, "truth.tsv"), "w") as f:
        for (tid, *_), a in zip(tx, truth):
            f.write(f"{tid}\t{a!r}\n")

    # reads: transcript-major order, then shuffled across shards
    which = np.repeat(np.arange(len(tx)), counts)
    offs = (rng.random(n_reads) * starts[which]).astype(np.int64)
    order = rng.permutation(n_reads)
    qual = b"I" * READ_LEN
    rdir = os.path.join(out_dir, "reads.fastq")
    os.makedirs(rdir, exist_ok=True)
    files = [open(os.path.join(rdir, "part-%03d.fastq" % s), "wb")
             for s in range(shards)]
    try:
        for n, r in enumerate(order):
            t = tx[which[r]]
            p = t[4] + offs[r]
            seq = genome[t[2]][p:p + READ_LEN]
            files[n % shards].write(b"@r%d\n%s\n+\n%s\n" % (n, seq, qual))
    finally:
        for f in files:
            f.close()


def cached(root, seed, shape):
    """Inputs for (seed, shape) under root, generated once per content of
    the shape and of this generator."""
    with open(__file__, "rb") as f:
        key = hashlib.sha256(f.read()).hexdigest()[:12]
    out = os.path.join(root, f"{shape}-{seed}-{key}")
    if not os.path.exists(os.path.join(out, "DONE")):
        shutil.rmtree(out, ignore_errors=True)
        generate(out, seed, shape)
        open(os.path.join(out, "DONE"), "w").close()
    return out
