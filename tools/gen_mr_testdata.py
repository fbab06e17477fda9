#!/usr/bin/env python3
"""Write the MapReduce word-count test corpus, src/test/resources/mr/testdata_{1,2,3}.txt.

The text is original prose assembled from the sentences below by a seeded
generator, so the files are byte-for-byte reproducible:

    python3 tools/gen_mr_testdata.py

Every file contains each strtok delimiter of the word-count tokenizer
(space , . " '), runs of adjacent delimiters (empty tokens), blank lines and
paragraphs wrapped over several lines. testdata_1.txt is larger than 64 KB,
so a 64 KB input split cuts it.
"""
import os
import random

SENTENCES = [
    "A map task reads one split of the input and emits a key and a value for every word it sees",
    "The reduce task receives every value for a key, in key order, and writes one line per key",
    "Nothing about the shuffle is clever: each key is hashed, and the hash picks the output file",
    "When a worker stops answering, the master hands its split to another worker and waits again",
    "Counting words is the program everyone writes first, because the answer is easy to check",
    "The combiner runs on the map side and folds repeated keys before they cross the network",
    "Sorted runs make the reduce side simple; a merge of sorted runs is still sorted",
    "She said \"the output has R files\" and he said 'only if R is what the spec asks for'",
    "It's the master's job, not the worker's, to decide when the whole job is done",
    "Large inputs are cut into pieces of a few kilobytes, and each piece becomes one map task",
    "A grep job is a word count that throws most words away before it counts them",
    "An inverted index maps each word to the sorted list of documents that contain it",
    "The spec file names the workers, the input files, the output directory and the split size",
    "Stragglers are the slow tail of a job, and speculation runs a second copy of their work",
    "Every output file is written once, renamed into place, and never appended to",
    "Keys with a capital letter, like Map and Reduce, are counted apart from their lower case twins",
    "Numbers such as 64, 128 and 4096 are words too, as far as the tokenizer can tell",
    "Hyphenated words like re-run and write-once stay whole; only the five delimiters split",
    "A colon: a semicolon; a dash - and parentheses (like these) are not delimiters here",
    "The quick brown fox jumps over the lazy dog, then jumps back, then sits down",
]

# joints between tokens and sentences: single delimiters and runs of them
JOINTS = [" ", " ", " ", ", ", ". ", " \"", "\" ", " '", "' ", ",, ", " .. ",
          "  ", " , . ", "'\"", ",'", " ,\"' "]


def sentence(rng):
    words = rng.choice(SENTENCES).split(" ")
    out = [words[0]]
    for w in words[1:]:
        out.append(rng.choice(JOINTS) if rng.random() < 0.15 else " ")
        out.append(w)
    return "".join(out) + rng.choice([".", ".", "!", "?", "...", ".\"", ".'"])


def paragraph(rng):
    text = " ".join(sentence(rng) for _ in range(rng.randint(2, 6)))
    # wrap over several lines; occasionally start a line with delimiters
    lines, line = [], ""
    for w in text.split(" "):
        if line and len(line) + len(w) > rng.randint(50, 90):
            lines.append(line)
            line = rng.choice(["", "", "", ", ", "\" ", ". "])
        line = (line + " " + w) if line and not line.endswith(" ") else line + w
    lines.append(line)
    return "\n".join(lines)


def write(path, seed, min_bytes):
    rng = random.Random(seed)
    parts = []
    size = 0
    while size < min_bytes:
        p = paragraph(rng)
        parts.append(p)
        size += len(p) + 2
        if rng.random() < 0.1:
            parts.append(rng.choice([" , . ", "\"\"", "''", ".,.,.", " "]))
    with open(path, "w", encoding="ascii", newline="\n") as f:
        f.write("\n\n".join(parts) + "\n")


def main():
    here = os.path.dirname(os.path.abspath(__file__))
    out = os.path.join(here, "..", "src", "test", "resources", "mr")
    os.makedirs(out, exist_ok=True)
    for i, (seed, size) in enumerate([(1, 96 * 1024), (2, 24 * 1024), (3, 6 * 1024)], 1):
        write(os.path.join(out, "testdata_%d.txt" % i), seed, size)


if __name__ == "__main__":
    main()
