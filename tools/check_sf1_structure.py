#!/usr/bin/env python3
"""Structural sf1 verification for queries whose DuckDB mirrors are
quadratic at data scale (winnowing/recursive-CC CTEs).

ScaleData's per-copy token bijection makes cross-copy near-duplication
impossible (copies are token-disjoint, and q_contamination's probes are
copy-0-only doc_id < 5), so text-derived pair/cluster outputs at sf1
must decompose into `copies` stride-shifted images of the sf0.1 output
— which IS DuckDB-verified (check_oracle --timeout at sf0.1 runs the full
mirrors at 1/10 cost). Checks here are value-exact, not statistical:

  1. no output pair crosses a copy boundary;
  2. every copy's image (ids mod stride) equals copy 0's image,
     including float columns bit-for-bit;
  3. copy 0's image equals the verified sf0.1 output.

NOT covered here (different scaling law, verified by direct sf1
mirrors instead): embedding-family ops (per-copy embedding shifts
change geometry) and simhash (random 64-bit hamming collisions across
token-disjoint copies are LEGITIMATE output, so pair counts grow
superlinearly by design).

    python3 tools/check_sf1_structure.py [/tmp/verify_sf1 /tmp/verify_sf01]
"""
import sys, glob
import pandas as pd

S_DOC = 5000   # sf0.1 documents stride (max doc_id + 1)
COPIES = 10


def load(out, q):
    fs = sorted(glob.glob(f"{out}/{q}/*.parquet"))
    if not fs:
        raise SystemExit(f"missing spark output {out}/{q}")
    return pd.concat([pd.read_parquet(f) for f in fs]).reset_index(drop=True)


def canon(df):
    # ScaleData recomputes passthrough int columns (e.g. n_chars) via
    # Spark length() -> int32 where the source data is int64; widths
    # are a generation artifact, values are what we compare
    df = df.copy()
    for c in df.columns:
        if pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
    return df[sorted(df.columns)].sort_values(by=sorted(df.columns)).reset_index(drop=True)


results = []


def report(name, ok, detail=""):
    print(("OK   " if ok else "FAIL ") + name + (f" — {detail}" if detail and not ok else ""), flush=True)
    results.append((name, ok))


def copy_decompose(q, df, id_cols, shift_cols):
    """Check 1+2: within-copy only, per-copy images identical. Returns
    copy-0 image (or None on failure)."""
    copies = df[id_cols[0]] // S_DOC
    for c in id_cols[1:]:
        if not (copies == df[c] // S_DOC).all():
            report(f"{q}: pairs stay within one copy", False,
                   f"{(copies != df[c] // S_DOC).sum()} cross-copy rows")
            return None
    report(f"{q}: pairs stay within one copy", True)
    imgs = []
    for c in range(COPIES):
        img = df[copies == c].copy()
        for col in shift_cols:
            img[col] = img[col] - c * S_DOC
        imgs.append(canon(img))
    same = all(imgs[0].equals(img) for img in imgs[1:])
    report(f"{q}: all {COPIES} copy images identical (values incl. floats)", same)
    return imgs[0] if same else None


def against_sf01(q, img0, sf01_df):
    report(f"{q}: copy-0 image == verified sf0.1 output",
           img0 is not None and img0.equals(canon(sf01_df)))


def main(sf1, sf01):
    # probes are copy-0-only → the whole sf1 output must equal sf0.1's
    a, b = load(sf1, "q_contamination"), load(sf01, "q_contamination")
    report("q_contamination: sf1 output == sf0.1 output (copy-0 probes, no cross-copy k-grams)",
           canon(a).equals(canon(b)))

    for q, ids, shifts in [
        ("q_dedup_minhash", ["a_id", "b_id"], ["a_id", "b_id"]),
        ("q_ngram_jaccard", ["a_id", "b_id"], ["a_id", "b_id"]),
        ("q_dedup_cross", ["corpus_id", "ref_id"], ["corpus_id", "ref_id"]),
        ("q_dedup_index", ["corpus_id", "ref_id"], ["corpus_id", "ref_id"]),
        ("q_dedup_index_append", ["corpus_id", "ref_id"], ["corpus_id", "ref_id"]),
        ("q_dedup_exact", ["doc_id"], ["doc_id"]),
        ("q_dedup_clusters", ["doc_id", "cluster_id"], ["doc_id", "cluster_id"]),
    ]:
        img0 = copy_decompose(q, load(sf1, q), ids, shifts)
        against_sf01(q, img0, load(sf01, q))

    # dedup_edit: within-copy only + copy-0 == sf0.1. The per-copy
    # images are deliberately NOT compared (the _c<i> token suffix
    # inflates insertion edit costs, so the maxEdits gate legitimately
    # differs per copy); copies 1..9 get a full-copy direct mirror in
    # check_sf1_slowmirrors.py instead.
    try:
        ed1, ed0 = load(sf1, "q_dedup_edit"), load(sf01, "q_dedup_edit")
        copies = ed1["a_id"] // S_DOC
        report("q_dedup_edit: pairs stay within one copy",
               (copies == ed1["b_id"] // S_DOC).all())
        report("q_dedup_edit: copy-0 rows == sf0.1 output",
               canon(ed1[ed1.a_id < S_DOC]).equals(canon(ed0)))
    except SystemExit:
        print("SKIP q_dedup_edit (output not present in this run)", flush=True)

    # line_dedup: per-copy counts must match copy 0 (token bijection
    # preserves line multiplicities); copy-0 TEXT must equal sf0.1's
    ld1, ld0 = load(sf1, "q_line_dedup"), load(sf01, "q_line_dedup")
    img0 = copy_decompose("q_line_dedup(counts)",
                          ld1[["doc_id", "n_kept", "n_dropped"]], ["doc_id"], ["doc_id"])
    against_sf01("q_line_dedup(counts)", img0,
                 ld0[["doc_id", "n_kept", "n_dropped"]])
    c0 = ld1[ld1.doc_id < S_DOC]
    report("q_line_dedup: copy-0 rows (incl. text) == sf0.1 output",
           canon(c0).equals(canon(ld0)))

    # doc_fingerprint: char-k-gram hashes are NOT copy-isomorphic
    # (suffixed tokens change k-grams) — only copy 0 is comparable here;
    # copies 1..9 are covered by the restricted direct mirror
    # (check_sf1_slowmirrors.py)
    fp1, fp0 = load(sf1, "q_doc_fingerprint"), load(sf01, "q_doc_fingerprint")
    report("q_doc_fingerprint: copy-0 rows == sf0.1 output",
           canon(fp1[fp1.doc_id < S_DOC]).equals(canon(fp0)))

    # stream_index_dedup: survivors = even docs minus within-copy
    # near-dups (parity survives the 5000 stride) — id sets decompose,
    # copy-0 rows incl. text equal sf0.1's
    si1, si0 = load(sf1, "q_stream_index_dedup"), load(sf01, "q_stream_index_dedup")
    ids_by_copy = [set(si1[si1.doc_id // S_DOC == c].doc_id % S_DOC) for c in range(COPIES)]
    report("q_stream_index_dedup: all copy id-images identical",
           all(s == ids_by_copy[0] for s in ids_by_copy[1:]))
    report("q_stream_index_dedup: copy-0 rows (incl. text) == sf0.1 output",
           canon(si1[si1.doc_id < S_DOC]).equals(canon(si0)))

    # substr_remove: window duplication is within-copy (token-disjoint
    # copies; a cross-copy rolling-hash collision would fail loudly),
    # so span counts decompose and copy-0 text_clean matches sf0.1
    sr1, sr0 = load(sf1, "q_substr_remove"), load(sf01, "q_substr_remove")
    img0 = copy_decompose("q_substr_remove(counts)",
                          sr1[["doc_id", "n_removed_toks", "n_spans"]],
                          ["doc_id"], ["doc_id"])
    against_sf01("q_substr_remove(counts)", img0,
                 sr0[["doc_id", "n_removed_toks", "n_spans"]])
    report("q_substr_remove: copy-0 rows (incl. text_clean) == sf0.1 output",
           canon(sr1[sr1.doc_id < S_DOC]).equals(canon(sr0)))

    # leakage_split: components decompose like q_dedup_clusters, and
    # bucket/split are VALUE-replayed for every sf1 row via a Python
    # image of Spark's XxHash64(long, seed=7) — cluster labels shift
    # per copy, so per-copy bucket images legitimately differ
    ls1, ls0 = load(sf1, "q_leakage_split"), load(sf01, "q_leakage_split")
    img0 = copy_decompose("q_leakage_split(clusters)",
                          ls1[["doc_id", "cluster_id"]],
                          ["doc_id", "cluster_id"], ["doc_id", "cluster_id"])
    against_sf01("q_leakage_split(clusters)", img0,
                 ls0[["doc_id", "cluster_id"]])

    # grounding chain: leakage_split's labels ARE q_dedup_clusters'
    # (which check_clusters_unionfind verifies independently from the
    # minhash pairs) — tie them at both SFs
    for tag, ls, d in (("sf1", ls1, sf1), ("sf0.1", ls0, sf01)):
        cl = load(d, "q_dedup_clusters")
        report(f"q_leakage_split: {tag} labels == q_dedup_clusters output",
               canon(ls[["doc_id", "cluster_id"]]).equals(
                 canon(cl[["doc_id", "cluster_id"]])))

    def xxh64_long(l, seed=7):
        M = (1 << 64) - 1
        P1, P2 = 0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F
        P3, P4, P5 = 0x165667B19E3779F9, 0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5

        def rotl(x, r):
            return ((x << r) | (x >> (64 - r))) & M
        acc = (seed + P5 + 8) & M
        k1 = rotl((l & M) * P2 & M, 31) * P1 & M
        acc = (rotl(acc ^ k1, 27) * P1 + P4) & M
        acc = (acc ^ (acc >> 33)) * P2 & M
        acc = (acc ^ (acc >> 29)) * P3 & M
        return acc ^ (acc >> 32)

    def bucket_of(cid):
        h = xxh64_long(int(cid))
        s = h - (1 << 64) if h >= (1 << 63) else h
        return s % 100  # Python floor-mod == Spark pmod here
    exp_bucket = ls1.cluster_id.map(bucket_of)
    report("q_leakage_split: every sf1 bucket == pmod(xxh64(cluster_id,7),100) (Python replay)",
           (ls1.bucket == exp_bucket).all())
    report("q_leakage_split: split flag consistent with bucket < 90 everywhere",
           ((ls1.split == "train") == (ls1.bucket < 90)).all())
    report("q_leakage_split: copy-0 rows (incl. bucket/split) == sf0.1 output",
           canon(ls1[ls1.doc_id < S_DOC]).equals(canon(ls0)))

    bad = [n for n, ok in results if not ok]
    print(f"== {len(results) - len(bad)}/{len(results)} structural checks passed"
          + (f", FAILED: {bad}" if bad else ""), flush=True)
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else "/tmp/verify_sf1",
         sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_sf01")
