"""Seeded Gutenberg-shaped book corpus and its expected anagram lines.

Each book is a Latin-1 text file shaped like a Project Gutenberg plain-text
release: a licence header ending in the ``*** START OF THIS PROJECT
GUTENBERG EBOOK ... ***`` marker, a body, and a footer that starts either
with ``End of the Project Gutenberg EBook`` or only with the ``*** END OF
...`` marker. Body words come from a Zipf-distributed vocabulary with
planted anagram families (permutations of one letter multiset), decorated
the way prose is: capitals, punctuation, stopwords, numbers, hyphens and
apostrophes.

The expected output is derived from the body text alone with the
reference's rules (whitespace split, lower-case, trim non-letters, keep
letters-only non-stopwords, group by sorted letters, keep groups with more
than one distinct word) -- graft is not involved.
"""
import os
import re

import numpy as np

# The reference's stopword list (mapphase/map.go), as graft's TextFns carries it.
STOPWORDS = frozenset("""
'tis 'twas a able about across after ain't all almost also am among an and
any are aren't as at be because been but by can can't cannot could could've
couldn't dear did didn't do does doesn't don't either else ever every for
from get got had has hasn't have he he'd he'll he's her hers him his how
how'd how'll how's however i i'd i'll i'm i've if in into is isn't it it's
its just least let like likely may me might might've mightn't most must
must've mustn't my neither no nor not of off often on only or other our own
rather said say says shan't she she'd she'll she's should should've
shouldn't since so some than that that'll that's the their them then there
there's these they they'd they'll they're they've this tis to too twas us
wants was wasn't we we'd we'll we're were weren't what what'd what's when
when'd when'll when's where where'd where'll where's which while who who'd
who'll who's whom why why'd why'll why's will with won't would would've
wouldn't yet you you'd you'll you're you've your
""".split())
assert len(STOPWORDS) == 185

# Java's \s: the only separators the generator emits between tokens.
_WS = re.compile(r"[ \t\n\x0b\f\r]+")
_ASCII = "abcdefghijklmnopqrstuvwxyz"
_ACCENTED = "éèàüöñçâ"
_STOPLIST = sorted(w for w in STOPWORDS if w.isalpha())

VERSION = 3


# The corpus shape -- word length by Zipf rank, which ranks form anagram
# families, book sizes -- is the same for every seed; the seed picks the
# letters and the token sequence. Every seed so asks the same work of the
# program, and runs with different seeds stay comparable.
_SHAPE_SEED = 0xB00C5


def _word(rng, n):
    letters = rng.choice(list(_ASCII), size=n)
    if rng.random() < 0.08:  # an accented Latin-1 letter somewhere
        letters[int(rng.integers(0, n))] = _ACCENTED[int(rng.integers(0, len(_ACCENTED)))]
    return "".join(letters)


def _family(rng, k, n, seen):
    """`k` distinct unseen words that are permutations of one another."""
    while True:
        base = _word(rng, n)
        fam = {base}
        for _ in range(8 * k):
            if len(fam) == k:
                break
            fam.add("".join(rng.permutation(list(base))))
        if len(fam) == k and not fam & seen:
            return sorted(fam)


def vocabulary(rng, n_words, n_families):
    """Distinct words by Zipf rank; `n_families` groups of 2-4 of them are
    anagrams of one another, spread over all ranks."""
    shape = np.random.default_rng(_SHAPE_SEED)
    sizes = shape.integers(2, 5, n_families).tolist()
    groups = ([(k, int(n)) for k, n in zip(sizes, shape.integers(4, 10, n_families))]
              + [(1, int(n)) for n in shape.integers(3, 13, n_words - sum(sizes))])
    slots = [(g, m) for g, (k, _) in enumerate(groups) for m in range(k)]
    slots = [slots[i] for i in shape.permutation(len(slots))]
    seen, words = set(STOPWORDS), []
    for k, n in groups:
        if k > 1:
            fam = _family(rng, k, n, seen)
        else:
            w = _word(rng, n)
            while w in seen:
                w = _word(rng, n)
            fam = [w]
        seen.update(fam)
        words.append(fam)
    return [words[g][m] for g, m in slots]


def _variants(w):
    """Decorated spellings of one word, as prose would carry it."""
    return [w, w, w, w, w.capitalize(), w + ",", w + ".", w.upper(),
            '"' + w, w + '"', "(" + w + ")", w + ";", w + "!", w + "'s",
            "--" + w, w + "-" + w[::-1], w.capitalize() + "?"]


def _header(title, author, n):
    return (f"The Project Gutenberg EBook of {title}, by {author}\r\n\r\n"
            "This eBook is for the use of anyone anywhere at no cost and with\r\n"
            "almost no restrictions whatsoever.  You may copy it, give it away or\r\n"
            "re-use it under the terms of the Project Gutenberg License included\r\n"
            "with this eBook or online at www.gutenberg.org\r\n\r\n\r\n"
            f"Title: {title}\r\n\r\nAuthor: {author}\r\n\r\n"
            f"Release Date: March {n % 28 + 1}, 2004 [EBook #{10000 + n}]\r\n\r\n"
            "Language: English\r\n\r\nCharacter set encoding: ISO-8859-1\r\n\r\n"
            f"*** START OF THIS PROJECT GUTENBERG EBOOK {title.upper()} ***\r\n\r\n\r\n")


def _footer(title, author, full):
    tail = (f"*** END OF THIS PROJECT GUTENBERG EBOOK {title.upper()} ***\r\n\r\n"
            "***** This file should be named 10000.txt or 10000.zip *****\r\n"
            "Updated editions will replace the previous one--the old editions\r\n"
            "will be renamed.\r\n")
    if full:
        return (f"\r\n\r\n\r\nEnd of the Project Gutenberg EBook of {title}, "
                f"by {author}\r\n\r\n" + tail)
    return "\r\n\r\n" + tail


def generate(seed, out_dir, n_books, total_mb):
    """Writes `n_books` files under `out_dir`/books; returns the bodies."""
    rng = np.random.default_rng([seed, 0xB00C5])
    vocab = vocabulary(rng, n_words=20000, n_families=1500)
    ranks = np.arange(1, len(vocab) + 1, dtype=np.float64)
    p = 1.0 / ranks ** 1.07
    p /= p.sum()
    variants = [_variants(w) for w in vocab]
    stop_p = 0.35
    numbers = ["1887", "12th", "iv", "1", "xii", "42", "3rd", "1066"]
    books_dir = os.path.join(out_dir, "books")
    os.makedirs(books_dir, exist_ok=True)
    # book sizes vary 0.5x..1.5x around the mean, like a real shelf
    weights = np.random.default_rng(_SHAPE_SEED).uniform(0.5, 1.5, n_books)
    sizes = np.maximum(200, np.round(total_mb * 1e6 / 7.0 * weights
                                     / weights.sum())).astype(int)
    bodies = []
    for b in range(n_books):
        n_tok = int(sizes[b])
        idx = rng.choice(len(vocab), size=n_tok, p=p)
        deco = rng.integers(0, 17, size=n_tok)
        kind = rng.random(n_tok)
        stop_idx = rng.integers(0, len(_STOPLIST), size=n_tok)
        num_idx = rng.integers(0, len(numbers), size=n_tok)
        toks = [(_STOPLIST[s] if k < stop_p else
                 numbers[n] if k > 0.995 else variants[i][d])
                for i, d, k, s, n in zip(idx.tolist(), deco.tolist(),
                                         kind.tolist(), stop_idx.tolist(),
                                         num_idx.tolist())]
        sep_r = rng.random(n_tok)
        seps = np.where(sep_r < 0.01, "\r\n\r\n",
                        np.where(sep_r < 0.09, "\r\n", " ")).tolist()
        body = "".join(t + s for t, s in zip(toks, seps))
        title = " ".join(w.capitalize() for w in
                         (vocab[int(i)] for i in rng.integers(0, 400, size=3)))
        author = vocab[int(rng.integers(0, 400))].capitalize()
        text = (_header(title, author, b) + body
                + _footer(title, author, full=bool(rng.random() < 0.7)))
        with open(os.path.join(books_dir, f"book-{b:04d}.txt"), "wb") as f:
            f.write(text.encode("latin-1"))
        bodies.append(body)
    return bodies


def _clean(tok):
    w = tok.lower()
    i, j = 0, len(w)
    while i < j and not w[i].isalpha():
        i += 1
    while j > i and not w[j - 1].isalpha():
        j -= 1
    w = w[i:j]
    if w and w.isalpha() and w not in STOPWORDS:
        return w
    return None


def expected_lines(bodies):
    """The anagram lines ("sig: w1 w2 ...") the bodies must produce."""
    words = set()
    for body in bodies:
        words.update(_WS.split(body))
    groups = {}
    for tok in words:
        w = _clean(tok)
        if w is not None:
            groups.setdefault("".join(sorted(w)), set()).add(w)
    return sorted(f"{sig}: {' '.join(sorted(ws))}"
                  for sig, ws in groups.items() if len(ws) > 1)


def read_parts(out_dir):
    """Every line of the part files Spark wrote into `out_dir`."""
    lines = []
    for name in sorted(os.listdir(out_dir)):
        if name.startswith("part-"):
            with open(os.path.join(out_dir, name), encoding="utf-8") as f:
                lines.extend(l.rstrip("\n") for l in f if l.strip())
    return lines
