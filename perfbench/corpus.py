"""Seeded input corpus and commands for the ``mapreduce_files`` workload.

The workload is the paper's literal contract: one external program per
input file (map), every output gathered, one program over all of them
(reduce). The map program is a word count that writes ``dsfinal.txt``
in its working directory, the output name the reference's ``App.config``
captures; the reduce program merges every gathered count file and
prints the merged counts, preceded by the number of files it saw.

The corpus is made from the seed alone: file sizes are lognormal around
32 KB and words follow a Zipf law over a seeded vocabulary, so the same
seed always writes byte-identical files.
"""

from __future__ import annotations

import math
import os
import random
from collections import Counter

N_FILES = 256
MEDIAN_BYTES = 32 * 1024
SIZE_SIGMA = 0.5
VOCAB_SIZE = 5000
ZIPF_S = 1.1
WORDS_PER_LINE = 12
# Mean bytes per emitted word (letters plus the separator) under the
# vocabulary below; converts a target file size into a word count.
_BYTES_PER_WORD = 7

# argv-append contract: map_files runs ``f"{MAP_CMD} {path}"``, so the
# input path lands after the redirection, where the shell accepts it.
MAP_OUTPUT = "dsfinal.txt"
MAP_CMD = (
    "LC_ALL=C awk '{for (i = 1; i <= NF; i++) c[$i]++} "
    "END {for (w in c) print w, c[w]}' >" + MAP_OUTPUT
)
REDUCE_CMD = (
    f"ls *.{MAP_OUTPUT} | wc -l && "
    f"LC_ALL=C awk '{{c[$1] += $2}} END {{for (w in c) print w, c[w]}}' *.{MAP_OUTPUT}"
)


def _vocabulary(rng: random.Random) -> list[str]:
    letters = "abcdefghijklmnopqrstuvwxyz"
    seen: set[str] = set()
    words: list[str] = []
    while len(words) < VOCAB_SIZE:
        w = "".join(rng.choice(letters) for _ in range(rng.randint(2, 10)))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def generate(out_dir: str, seed: int) -> list[str]:
    """Write the seed's corpus into ``out_dir``; return the file paths."""
    rng = random.Random(seed)
    words = _vocabulary(rng)
    cum: list[float] = []
    total = 0.0
    for rank in range(1, len(words) + 1):
        total += 1.0 / rank**ZIPF_S
        cum.append(total)
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for i in range(N_FILES):
        size = rng.lognormvariate(math.log(MEDIAN_BYTES), SIZE_SIGMA)
        picked = rng.choices(words, cum_weights=cum, k=max(1, int(size) // _BYTES_PER_WORD))
        lines = (
            " ".join(picked[j : j + WORDS_PER_LINE])
            for j in range(0, len(picked), WORDS_PER_LINE)
        )
        path = os.path.join(out_dir, f"doc{i:04d}.txt")
        with open(path, "w", encoding="ascii") as f:
            f.write("\n".join(lines) + "\n")
        paths.append(path)
    return paths


def expected_counts(paths: list[str]) -> Counter:
    """Word counts computed in Python, the check for every reduce output."""
    counts: Counter = Counter()
    for path in paths:
        with open(path, encoding="ascii") as f:
            counts.update(f.read().split())
    return counts


def parse_reduce_output(stdout: bytes) -> tuple[int, Counter]:
    """Split the reducer's stdout into (files gathered, merged counts)."""
    lines = stdout.decode("ascii").splitlines()
    gathered = int(lines[0])
    counts: Counter = Counter()
    for line in lines[1:]:
        word, n = line.split(" ")
        counts[word] = int(n)
    return gathered, counts
