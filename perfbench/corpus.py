"""Word-count corpus for the `mr_wordcount` workload, made from a seed.

Text files of lines with 40-79 tokens each. Tokens are drawn Zipf(1.0) from a
100,000-word vocabulary and separated by " ", ", " or ". ", so the job's
tokenizer (delimiters space , . " ') sees every token. The generator keeps its
own tally of every token it wrote; the job's output must match it exactly.
"""
import os

import numpy as np

VOCAB = 100_000
DELIMS = np.array([" ", ", ", ". "], dtype=object)
DELIM_P = [0.85, 0.10, 0.05]
LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"), dtype=object)


def vocabulary(rng):
    """Distinct words: 2-8 random letters, then the word's index in digits."""
    lengths = rng.integers(2, 9, size=VOCAB)
    letters = rng.integers(0, 26, size=int(lengths.sum()))
    words, pos = [], 0
    for i, n in enumerate(lengths):
        words.append("".join(LETTERS[letters[pos:pos + n]]) + str(i))
        pos += n
    return np.array(words, dtype=object)


def generate(seed, out_dir, n_files, bytes_per_file):
    """Writes `n_files` text files of about `bytes_per_file` bytes each.

    Returns (paths, tally) where tally maps every word written to its count.
    """
    rng = np.random.default_rng(seed)
    words = vocabulary(rng)
    ranks = 1.0 / np.arange(1, VOCAB + 1)
    # which word is hot depends on the seed, not on its index
    p = np.empty(VOCAB)
    p[rng.permutation(VOCAB)] = ranks / ranks.sum()
    lens = np.array([len(w) for w in words])
    mean_token = float((p * lens).sum()) + float(np.dot(DELIM_P, [1, 2, 2]))
    counts = np.zeros(VOCAB, dtype=np.int64)
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for f in range(n_files):
        n_tokens = int(bytes_per_file / mean_token)
        lengths = rng.integers(40, 80, size=n_tokens // 59 + 1)
        tokens = rng.choice(VOCAB, size=int(lengths.sum()), p=p)
        delims = DELIMS[rng.choice(len(DELIMS), size=tokens.size, p=DELIM_P)]
        counts += np.bincount(tokens, minlength=VOCAB)
        pieces = np.empty(2 * tokens.size, dtype=object)
        pieces[0::2] = words[tokens]
        pieces[1::2] = delims
        ends = np.cumsum(lengths) * 2
        # each line ends with its last token's delimiter replaced by a newline
        pieces[ends - 1] = "\n"
        path = os.path.join(out_dir, f"part_{f}.txt")
        with open(path, "w") as fh:
            fh.write("".join(pieces))
        paths.append(path)
    tally = {words[i]: int(counts[i]) for i in np.flatnonzero(counts)}
    return paths, tally
