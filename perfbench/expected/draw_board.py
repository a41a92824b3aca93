#!/usr/bin/env python3
"""Draws the board (board.tsv) from the certified candidates, and compares
the board's build:exec split with that of a pass over every query.

candidates.tsv is perfbench.Certify's table over the generated sf0.01
tables: per query its rows, checksum, stability over three runs, warm time,
and the seconds and Spark jobs of its build and forced-plan phases.
oracle_sf0.01.txt is tools/check_oracle.py's verdict on the same tables.

A query can be drawn when it passes the oracle, gives the same checksum on
three runs and returns rows. The candidates are sorted by build jobs and
cut into BOARD_SIZE strata of equal size; a seeded draw takes one query per
stratum, so each part of the range, from queries with no build-time jobs
to those with the most, has one query on the board. Equal strata keep the draw unbiased: a query's chance to be
drawn does not depend on its cost. Most build-time jobs sit in a few
queries (the top stratum holds two thirds of them), so one draw's build
share still differs from the full pass's; --check reports by how much.

Usage (from the root of a checkout):
    python3 perfbench/expected/draw_board.py          # rewrite board.tsv
    python3 perfbench/expected/draw_board.py --check  # verify board.tsv, compare splits
"""
import argparse
import os
import random
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BOARD_SIZE = 12
DRAW_SEED = 1


def read_candidates():
    with open(os.path.join(HERE, "candidates.tsv")) as f:
        lines = [ln.rstrip("\n").split("\t") for ln in f if ln.strip()]
    head = lines[0][0].lstrip("#"), *lines[0][1:]
    rows = [dict(zip(head, ln)) for ln in lines[1:]]
    for r in rows:
        for k in ("rows", "build_jobs", "exec_jobs"):
            r[k] = int(r[k])
        for k in ("warm_s", "build_s", "plan_s", "exec_s"):
            r[k] = float(r[k])
    return rows


def certified():
    with open(os.path.join(HERE, "oracle_sf0.01.txt")) as f:
        return {ln.split()[1].rstrip(":") for ln in f
                if ln.startswith("PASS ") and ln.rstrip().endswith(": OK")}


def draw(rows):
    ok = certified()
    pool = sorted((r for r in rows if r["query"] in ok and r["stable"] == "true"
                   and r["rows"] > 0), key=lambda r: (r["build_jobs"], r["query"]))
    rnd = random.Random(DRAW_SEED)
    n = len(pool)
    board = [rnd.choice(pool[i * n // BOARD_SIZE:(i + 1) * n // BOARD_SIZE])
             for i in range(BOARD_SIZE)]
    return sorted(board, key=lambda r: r["query"]), n


def split(rows):
    """(build share of jobs, build share of seconds, jobs, seconds) of a set
    of queries: build over build + exec."""
    bj = sum(r["build_jobs"] for r in rows)
    ej = sum(r["exec_jobs"] for r in rows)
    bs = sum(r["build_s"] for r in rows)
    es = sum(r["exec_s"] for r in rows)
    return bj / (bj + ej), bs / (bs + es), (bj, ej), (bs, es)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--check", action="store_true")
    a = ap.parse_args()
    rows = read_candidates()
    board, pool = draw(rows)
    if not a.check:
        with open(os.path.join(HERE, "board.tsv"), "w") as f:
            f.write(f"# The board: {BOARD_SIZE} queries drawn by perfbench/expected/"
                    f"draw_board.py,\n# one per build-job stratum of the {pool} "
                    "certified, stable, non-empty queries\n# in candidates.tsv. "
                    "Columns: query, rows, checksum (bit_xor of xxhash64\n"
                    "# over every output column).\n")
            for r in board:
                f.write(f"{r['query']}\t{r['rows']}\t{r['checksum']}\n")
        return 0
    with open(os.path.join(HERE, "board.tsv")) as f:
        on_file = [ln.split("\t")[0] for ln in f if ln.strip() and not ln.startswith("#")]
    if on_file != [r["query"] for r in board]:
        print("board.tsv is not the draw from candidates.tsv; rerun draw_board.py")
        return 1
    full, sample = split(rows), split(board)
    for name, qs, s in (("every query", rows, full), ("the board", board, sample)):
        print(f"{name:12s} build/exec jobs {s[2][0]}/{s[2][1]} (build share {s[0]:.3f}), "
              f"build/exec s {s[3][0]:.2f}/{s[3][1]:.2f} (build share {s[1]:.3f}), "
              f"warm pass {sum(r['warm_s'] for r in qs):.2f} s")
    print(f"gap in build share: jobs {sample[0] - full[0]:+.3f}, "
          f"seconds {sample[1] - full[1]:+.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
