#!/usr/bin/env python3
"""Write the suite lists and the expected query fingerprints from probe output.

    python3 perfbench/record.py <probe at sf0.1 .tsv> <probe at sf0.01 .tsv>

Each .tsv comes from the Probe tool run on the test tables, e.g.
    java ... perfbench.Probe <testdata>/sf0.01 probe_sf0.01.tsv <dumpDir>
    python3 scripts/check.py <testdata>/sf0.01 <dumpDir>     # must pass
(see perfbench/README.md). Membership is decided once, here: a query
belongs to suite_iter when its construction launched Spark jobs at sf0.1,
otherwise to suite_floor. Later code changes do not move a query.
"""
import os
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
# Families whose prewarm is cheap enough for every set-up; the measured
# queries are drawn from their queries and from snapshot-free ones.
CHEAP_FAMILIES = {"-", "relational"}
# The iterative queries suite_iter runs: the connected-components fixpoint,
# the blocking-key loop and the sorted-neighbourhood pass, all snapshot-free
# or relational, about five seconds per warm pass together.
ITER_MEASURED = ["q_entity_cluster", "q_multimodal_blockhash", "q_snm_pairs"]


def read(path):
    rows = {}
    for line in open(path):
        if line.startswith("#"):
            continue
        f = line.rstrip("\n").split("\t")
        if f[2] == "FAILED":
            sys.exit(f"{path}: {f[0]} failed; record from a clean probe")
        rows[f[0]] = {"family": f[1], "build_jobs": int(f[3]), "fingerprint": f[7]}
    return rows


def write(path, header, lines):
    with open(os.path.join(BENCH, path), "w") as fh:
        fh.write("".join(f"# {h}\n" for h in header))
        fh.write("".join(l + "\n" for l in lines))


def main():
    sf01, sf001 = read(sys.argv[1]), read(sys.argv[2])
    if set(sf01) != set(sf001):
        sys.exit("the two probes ran different query sets")
    names = sorted(sf01)
    iters = [q for q in names if sf01[q]["build_jobs"] > 0]
    floors = [q for q in names if sf01[q]["build_jobs"] == 0]
    cols = "query\tfamily\tconstruction jobs at sf0.1"
    for name, members, rule in [
            ("suite_iter", iters, "construction launched Spark jobs"),
            ("suite_floor", floors, "construction launched no Spark job")]:
        write(f"suites/{name}.txt",
              [f"{name}: every SparkEntry query whose {rule},",
               "per the listener at sf0.1 after a full prewarm. Fixed once; later",
               "changes do not move a query between lists.", cols],
              [f"{q}\t{sf01[q]['family']}\t{sf01[q]['build_jobs']}" for q in members])
    cheap = lambda q: sf01[q]["family"] in CHEAP_FAMILIES
    if not all(q in iters and cheap(q) for q in ITER_MEASURED):
        sys.exit("a measured suite_iter query is no longer an eligible suite_iter member")
    write("suites/suite_iter.measured.txt",
          ["suite_iter runs these suite_iter members: iterative queries with no",
           "snapshot family or the relational one, ~5 s per warm pass together."],
          ITER_MEASURED)
    with open(os.path.join(BENCH, "expected", "fingerprints.tsv")) as fh:
        kept = [l for l in fh if l.strip() and not l.startswith("#")
                and not l.startswith("sf0.01/")]
    write("expected/fingerprints.tsv",
          ["<scope>/<output>\t<rows>:<sum of 64-bit row hashes>",
           "sf0.01/* come from a probe whose outputs scripts/check.py passed",
           "against DuckDB; etl_release/* from perfbench.RecordRelease."],
          [f"sf0.01/{q}\t{sf001[q]['fingerprint']}" for q in names] + [l.rstrip("\n") for l in kept])
    print(f"suite_floor {len(floors)}, suite_iter {len(iters)} ({len(ITER_MEASURED)} measured)")


if __name__ == "__main__":
    main()
