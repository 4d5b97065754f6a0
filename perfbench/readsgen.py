"""Seeded generator of GraphLab-format aligned-reads TSV (one read per line:
id, length, content, offset, score, successor ids).

The input is one long best path that covers stitch cases A-D and N gaps,
plus lower-scored distractor branches and dead ends hanging off it. Every
field is fixed-width and every per-read length and successor count depends
only on the read's index, so all seeds give files of the same byte size,
the same Spark splits and the same pointer-doubling round count; the seed
moves offsets, bases, scores, ids and line order.
"""
import random

GOLDEN = [
    # the reference's 3-read sample: chain 33 -> 10 -> 38, two case-D hops
    (33, "NAAGCGTATTGAAGGCTCGGTCTGGCCAAAGTCNATCCGTTGCTCCACGCCAAAAGTGAGAGGCACCTGTCAGATTGAGCGTG"
         "CAGCCAGTGAATCCCCGCATTTTATGCGTTTTCATG", 1304, 0.980775, [10]),
    (10, "TTTTCCGGACACAGTTCCGGATGGTCAGCCCGAAGCACATCAGCAACCCGAACAATACCGGCGACAGCCGGAACTGCCGTTCCGG"
         "TGTGCAGATTAATGACAGC", 3326, 0.988595, [38]),
    (38, "NGTNTTTGNGCAGTNACTGCTGCGGTATATCGCTGCCGNGCTGGGTGTCTCGTATGAGCAGCTTTCCCGGAATTACGCCCAGATG"
         "AGCTACTCCACGGCACGGGCCAGTGCGAACGAGTCGTGGGCGTACTT", 3891, 0.975873, []),
]


def golden_tsv():
    return "".join(f"{i}\t{len(c)}\t{c}\t{o}\t{s}\t" + "\t".join(map(str, succ)) + "\n"
                   for i, c, o, s, succ in GOLDEN)


def golden_contig():
    (_, c33, o33, _, _), (_, c10, o10, _, _), (_, c38, o38, _, _) = GOLDEN
    return (c33 + "N" * (o10 - o33 - len(c33)) + c10
            + "N" * (o38 - o10 - len(c10)) + c38)


def _length(i):
    return 250 + (i * 37) % 150


# random byte -> base: 3 of 256 (about 1%) are N
_BASE = bytes((ord("N") if b < 3 else ord("ACGT"[b % 4])) for b in range(256))


def _bases(rnd, n):
    s = rnd.randbytes(n).translate(_BASE).decode()
    return "N" + s[1:] if rnd.random() < 0.1 else s  # one read in ten starts with N


def _next_offset(rnd, co, cl, nl):
    """Offset of the next path read after a read at `co` of length `cl`."""
    e_c = co + cl - 1  # inclusive end
    r = rnd.random()
    if r < 0.03 and co > 100:  # A: starts left of the current read
        return co - rnd.randint(1, 80)
    if r < 0.45:  # B: overlaps and extends past the current end
        return e_c - rnd.randint(2, min(cl, nl) - 1) + 1
    if r < 0.65:  # C: starts on the current inclusive end
        return e_c
    return e_c + 1 + rnd.randint(0, 60)  # D: N gap (adjacent when 0)


def generate(seed, n_path):
    """Return (tsv_text, source_id, dest_id, n_reads)."""
    rnd = random.Random(seed)
    n_dist = (n_path + 2) // 3  # one distractor per third path read
    n_branch = (n_path + 5) // 6  # every other distractor leads on to one more
    ids = rnd.sample(range(10**8, 10**9), n_path + n_dist + n_branch)
    path_ids, dist_ids, branch_ids = ids[:n_path], ids[n_path:n_path + n_dist], ids[n_path + n_dist:]
    reads = []  # (id, length, offset, score, successors)
    off = 1000
    for i in range(n_path):
        ln = _length(i)
        succ = []
        if i + 1 < n_path:
            succ.append(path_ids[i + 1])
            if i % 3 == 0:
                succ.append(dist_ids[i // 3])
        rnd.shuffle(succ)
        reads.append((path_ids[i], ln, off, rnd.uniform(0.9, 1.0), succ))
        if i + 1 < n_path:
            off = _next_offset(rnd, off, ln, _length(i + 1))
    for j, did in enumerate(dist_ids):
        at = reads[3 * j][2]
        succ = [branch_ids[j // 2]] if j % 2 == 0 else []  # else a dead end
        reads.append((did, _length(n_path + j), at + rnd.randint(0, 50), rnd.uniform(0.5, 0.89), succ))
    for k, bid in enumerate(branch_ids):
        at = reads[6 * k][2]
        reads.append((bid, _length(n_path + n_dist + k), at + rnd.randint(50, 99),
                      rnd.uniform(0.5, 0.89), []))
    lines = [f"{rid}\t{ln}\t{_bases(rnd, ln)}\t{o:09d}\t{s:.6f}" + "".join(f"\t{x}" for x in succ) + "\n"
             for rid, ln, o, s, succ in reads]
    rnd.shuffle(lines)
    return "".join(lines), path_ids[0], path_ids[-1], len(reads)
