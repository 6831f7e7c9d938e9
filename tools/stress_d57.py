"""Adversarial-corpus stress table for the exact-Jaccard filter stack
(VERDICT r5 item 5): candidate counts after each filter on d57's
heavy-shared-prefix corpus, plus the true-pair count, at one or more
sf dirs.

Usage: python tools/stress_d57.py [sf_dir ...]
Prints one markdown row per sf dir (for SCALE.md's stress table).
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    from etl_docker_spark.llm.dedup import (_jaccard_candidates,
                                            prefix_filter_jaccard_pairs)
    from etl_docker_spark.plans.d import _D57_K, d57_adversarial_frame
    from etl_docker_spark.session import get_spark

    spark = get_spark("stress_d57")
    spark.sparkContext.setLogLevel("ERROR")
    dirs = sys.argv[1:] or ["/root/testdata/sf0.01", "/root/testdata/sf0.1"]
    ks = [16, 64, 256]
    hdr = " | ".join(f"+suffix K={k}" for k in ks)
    print(f"| corpus | docs | prefix cand | +positional | {hdr} "
          "| true pairs | wall s |")
    print("|---|---|---|---|---|---|---|---|")
    for sf in dirs:
        adv = d57_adversarial_frame(spark, sf).localCheckpoint()
        n_docs = adv.count()
        t0 = time.time()
        counts = []
        for pos, k in [(False, 0), (True, 0)] + [(True, k) for k in ks]:
            cand, _ = _jaccard_candidates(adv, "doc_id", "text", 3, 1, 2,
                                          pos, k)
            counts.append(cand.count())
        true_n = prefix_filter_jaccard_pairs(
            adv, "doc_id", "text", shingle_n=3, t_num=1, t_den=2,
            positional=True, suffix_buckets=_D57_K).count()
        wall = time.time() - t0
        cells = " | ".join(str(c) for c in counts)
        print(f"| {os.path.basename(sf)} | {n_docs} | {cells} | "
              f"{true_n} | {wall:.1f} |")
    spark.stop()


if __name__ == "__main__":
    main()
