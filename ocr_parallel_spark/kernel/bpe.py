"""Deterministic byte-pair-encoding tokenizer kernel (Sennrich et al.
2016, the public BPE algorithm) — no Spark imports.

Training pipelines pack shards by TOKENIZER counts, not whitespace
words; this kernel supplies a real BPE so the pack chain
(job_curate --bpe-merges -> verdicts.n_bpe_tokens ->
job_pack --n-tokens-col) counts what deployment counts. It is the
textbook algorithm with every tie broken deterministically:

- pre-tokenize on single spaces (inputs are already
  whitespace-normalized ``norm`` text); each word encodes
  independently, so ``count(a + ' ' + b) == count(a) + count(b)`` —
  the distributivity law the hypothesis suite pins, and the reason
  per-doc counts can be computed embarrassingly parallel;
- words start as character sequences with a word-end marker appended
  to the final character (the classic </w> convention, so "low" and
  "lower" share prefixes but not the terminal unit);
- each merge round joins the most frequent adjacent pair; frequency
  ties break on the lexicographically SMALLEST pair — no hash-order
  or insertion-order dependence, so the same corpus always yields the
  same merge table on any platform;
- encoding applies merges in training order (rank order), the
  standard greedy application.

Merges serialize as a list of "left right" strings so they broadcast
as a plain Python list into Arrow workers and round-trip through a
parquet column.
"""

from __future__ import annotations

from collections import Counter

END = "▁"  # word-end marker appended to a word's final character


def _word_units(word: str) -> tuple[str, ...]:
    if not word:
        return ()
    chars = list(word)
    chars[-1] = chars[-1] + END
    return tuple(chars)


def train_bpe(word_freqs: dict[str, int], n_merges: int) -> list[tuple[str, str]]:
    """Learn up to ``n_merges`` merges from a word -> frequency table.

    Returns the ordered merge list. Stops early when no pair occurs
    twice (merging singletons memorizes the sample — noise, not
    vocabulary). Deterministic: max frequency, then smallest pair.

    Complexity note (deliberate): each round recounts every adjacent
    pair — O(n_merges × total units) — instead of maintaining
    incremental pair-count deltas as production BPE trainers do. The
    trainer only ever sees the CAPPED word-frequency table that
    fit_bpe_merges aggregates distributed and collects (bounded rows,
    not the corpus), so the simple recount is milliseconds at any
    corpus size and stays obviously-correct; the distributed side is
    where scale lives.
    """
    seqs: list[tuple[int, list[str]]] = [
        (freq, list(_word_units(w))) for w, freq in sorted(word_freqs.items())
        if w
    ]
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pairs: Counter = Counter()
        for freq, units in seqs:
            for i in range(len(units) - 1):
                pairs[(units[i], units[i + 1])] += freq
        if not pairs:
            break
        # highest frequency first, frequency ties on the
        # lexicographically smallest (left, right) tuple
        (a, b), n = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        if n < 2:
            break
        merges.append((a, b))
        ab = a + b
        for _, units in seqs:
            i = 0
            while i < len(units) - 1:
                if units[i] == a and units[i + 1] == b:
                    units[i : i + 2] = [ab]
                else:
                    i += 1
    return merges


def apply_merges(units: list[str], ranks: dict[tuple[str, str], int]) -> list[str]:
    """Greedy rank-order merge application (the standard BPE encode):
    repeatedly merge the present pair with the LOWEST training rank."""
    while len(units) > 1:
        best_rank, best_i = None, -1
        for i in range(len(units) - 1):
            r = ranks.get((units[i], units[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_i = r, i
        if best_rank is None:
            break
        units[best_i : best_i + 2] = [units[best_i] + units[best_i + 1]]
    return units


def encode(text: str, merges: list[tuple[str, str]]) -> list[str]:
    """Tokenize whitespace-normalized text; returns the token list."""
    ranks = {pair: i for i, pair in enumerate(merges)}
    out: list[str] = []
    for word in text.split(" "):
        if not word:
            continue
        out.extend(apply_merges(list(_word_units(word)), ranks))
    return out


def make_counter(merges: list[tuple[str, str]]):
    """Return a ``text -> token count`` callable with the rank table
    built once and a shared word -> count cache — the shape the Arrow
    batch path wants (one counter per partition, not one rank dict per
    document)."""
    ranks = {pair: i for i, pair in enumerate(merges)}
    cache: dict[str, int] = {}

    def counter(text: str) -> int:
        n = 0
        for word in text.split(" "):
            if not word:
                continue
            c = cache.get(word)
            if c is None:
                c = len(apply_merges(list(_word_units(word)), ranks))
                cache[word] = c
            n += c
        return n

    return counter


def merges_to_strings(merges: list[tuple[str, str]]) -> list[str]:
    """Serialize for broadcast/parquet: '<left> <right>' per merge.
    A SPACE is the one provably-safe delimiter: words come from
    ``text.split(" ")`` so no unit can ever contain one — whereas
    control characters like \\x1f survive normalization (Java ``\\s``
    excludes them) and could appear inside a learned unit, corrupting
    a delimiter-based parse."""
    return [" ".join(p) for p in merges]


def merges_from_strings(strs: list[str]) -> list[tuple[str, str]]:
    out = []
    for s in strs:
        a, _, b = s.partition(" ")
        out.append((a, b))
    return out
