#!/usr/bin/env python3
"""Seeded tweet-corpus generator for the corpus-analytics benchmark.

Writes `<out>/documents.parquet` with the program's `documents` schema
(doc_id, text, lang, source, n_chars). Single process, single numpy
Generator: the same workload and seed give a byte-identical file.

Tweets draw content words from a Zipfian vocabulary and mix in the noise
real tweets carry: t.co / bit.ly / www URLs, @mentions, #hashtags,
punctuation, mixed case, accented letters, emoji and digits, plus a
language mix with CJK-only `ja` tweets and retweet duplicates
("RT @user: <original>"). A share of tweets holds only URLs, mentions,
emoji and stopwords; those clean to empty and stay in.

Usage: python3 perfbench/gen.py --workload per_doc --seed 1 --out DIR
"""
import argparse
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))

# A subset of the NLTK English stopwords the program filters, at the rough
# frequency order they take in English tweets.
STOPWORDS = ["the", "to", "a", "i", "and", "you", "is", "of", "in", "it",
             "for", "my", "on", "that", "this", "me", "be", "so", "with",
             "just", "at", "not", "but", "have", "are", "all", "we", "your",
             "was", "what", "do", "no", "can", "will", "if", "out", "up",
             "about", "now", "they", "how", "when", "there", "from", "more"]
SHORT = ["rt", "lol", "ok", "u", "ur", "im", "pls", "omg", "xd", "yo"]
EMOJI = ["\U0001F602", "❤️", "\U0001F525", "\U0001F44D\U0001F3FD",
         "\U0001F64F", "\U0001F62D", "✨", "\U0001F440",
         "\U0001F468‍\U0001F469‍\U0001F467", "\U0001F389"]
ACCENTS = {"a": "áàäâ", "e": "éèê",
           "i": "íï", "o": "óöô", "u": "úü",
           "n": "ñ", "c": "ç"}
CJK = ("あいうえおかきくこさ"
       "しすたちてなにのはま"
       "日本語今天気好き写真")
PUNCT = [",", ".", "!", "?", "...", "!!", ":", ")"]
LANGS = ["en", "es", "fr", "pt", "de", "ja", "und"]
LANG_P = [0.55, 0.12, 0.08, 0.06, 0.05, 0.08, 0.06]
# The program's keyword predicate terms, placed at fixed vocabulary ranks
# so keyword_filter selects a stable share of English tweets.
KEYWORDS = ["spark", "stream", "query", "join", "window", "vector", "hash",
            "merge"]
KEYWORD_RANKS = [30, 80, 150, 400, 900, 1500, 2500, 4000]

CONS = "bcdfghjklmnprstvz"
VOWELS = "aeiou"
CODAS = ["", "", "", "n", "r", "s", "t", "l", "m", "ck", "ng"]


def load_workload(name):
    with open(os.path.join(HERE, "workloads.json")) as f:
        workloads = json.load(f)
    if name not in workloads:
        raise SystemExit(f"unknown workload {name!r}; have {sorted(workloads)}")
    return workloads[name]


def make_vocab(rng, size):
    """`size` distinct lowercase pseudo-words of 2-4 syllables."""
    stop = set(STOPWORDS) | set(SHORT) | set(KEYWORDS)
    vocab, seen = [], set()
    while len(vocab) < size:
        n = 4 * (size - len(vocab)) + 64
        nsyl = rng.integers(2, 5, n)
        cons = rng.integers(0, len(CONS), (n, 4))
        vows = rng.integers(0, len(VOWELS), (n, 4))
        coda = rng.integers(0, len(CODAS), (n, 4))
        for k in range(n):
            w = "".join(CONS[cons[k, j]] + VOWELS[vows[k, j]] + CODAS[coda[k, j]]
                        for j in range(nsyl[k]))
            if w not in seen and w not in stop:
                seen.add(w)
                vocab.append(w)
                if len(vocab) == size:
                    break
    for kw, rank in zip(KEYWORDS, KEYWORD_RANKS):
        if rank < size:
            vocab[rank] = kw
    return vocab


def zipf_p(size, s):
    p = np.arange(1, size + 1, dtype=np.float64) ** -s
    return p / p.sum()


def generate(wl, seed):
    rng = np.random.default_rng(seed)
    n_docs = wl["docs"]
    noise = wl["noise"]
    vocab = make_vocab(rng, wl["vocab"])
    users = make_vocab(rng, 5000)
    user_p = zipf_p(len(users), 1.0)

    n_tok = np.clip(rng.poisson(wl["tokens_mean"], n_docs), 1, 60)
    total = int(n_tok.sum())
    # Per-token draws, consumed in order by the assembly loop below.
    kind_u = rng.random(total)
    word_ix = rng.choice(len(vocab), size=total, p=zipf_p(len(vocab), wl["zipf_s"]))
    stop_ix = rng.choice(len(STOPWORDS), size=total, p=zipf_p(len(STOPWORDS), 0.8))
    user_ix = rng.choice(len(users), size=total, p=user_p)
    deco_u = rng.random((total, 3))
    aux = rng.integers(0, 1 << 30, total)

    doc_u = rng.random((n_docs, 3))
    langs = rng.choice(len(LANGS), size=n_docs, p=LANG_P)
    rt_user = rng.choice(len(users), size=n_docs, p=user_p)
    rt_src = rng.random(n_docs)

    # URLs, mentions and hashtags are given as shares of tweets; each becomes
    # the per-token rate that puts at least one in that share of tweets of
    # the mean length.
    per_tweet = [noise[k] for k in ("url_tweets", "mention_tweets", "hashtag_tweets")]
    per_token = [1 - (1 - x) ** (1 / wl["tokens_mean"]) for x in per_tweet]
    cut = np.cumsum(per_token + [noise["emoji"], noise["number"], 0.30])

    def alnum(x, n):
        chars = "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"
        out = []
        for _ in range(n):
            x, r = divmod(x, 62)
            out.append(chars[r])
            x = x * 2654435761 % (1 << 31) + 1
        return "".join(out)

    def url(t):
        a = int(aux[t])
        if a % 5 < 3:
            return "https://t.co/" + alnum(a, 10)
        if a % 5 == 3:
            return "http://bit.ly/" + alnum(a, 7)
        return "www." + vocab[a % 500] + ".com/" + vocab[(a >> 9) % len(vocab)]

    def mention(t):
        return "@" + users[user_ix[t]] + (":" if deco_u[t, 2] < 0.2 else "")

    def content(t, lang):
        if lang == "ja":
            a = int(aux[t])
            return "".join(CJK[(a >> (5 * j)) % len(CJK)] for j in range(2 + a % 4))
        w = vocab[word_ix[t]]
        if deco_u[t, 0] < noise["accent"] and lang not in ("en", "und"):
            pos = int(aux[t]) % len(w)
            alts = ACCENTS.get(w[pos])
            if alts:
                w = w[:pos] + alts[int(aux[t] >> 8) % len(alts)] + w[pos + 1:]
        c = deco_u[t, 1]
        if c < noise["caps"] * 0.15:
            w = w.upper()
        elif c < noise["caps"]:
            w = w.capitalize()
        if deco_u[t, 2] < noise["punct"]:
            w += PUNCT[int(aux[t] >> 12) % len(PUNCT)]
        return w

    def token(t, lang):
        u = kind_u[t]
        if u < cut[0]:
            return url(t)
        if u < cut[1]:
            return mention(t)
        if u < cut[2]:
            w = vocab[word_ix[t]]
            return "#" + (w.capitalize() if deco_u[t, 1] < 0.5 else w)
        if u < cut[3]:
            return EMOJI[int(aux[t]) % len(EMOJI)]
        if u < cut[4]:
            return str(int(aux[t]) % 2030)
        if u < cut[5]:
            s = STOPWORDS[stop_ix[t]]
            return s.capitalize() if deco_u[t, 1] < noise["caps"] else s
        return content(t, lang)

    def empty_token(t):
        # Everything here cleans away: URLs, mentions, emoji, stopwords and
        # tokens of at most two letters.
        k = int(aux[t]) % 5
        if k == 0:
            return url(t)
        if k == 1:
            return mention(t)
        if k == 2:
            return EMOJI[int(aux[t] >> 4) % len(EMOJI)]
        if k == 3:
            return STOPWORDS[stop_ix[t]]
        return SHORT[int(aux[t] >> 4) % len(SHORT)]

    texts, lang_out = [], []
    originals = []
    t = 0
    for d in range(n_docs):
        lang = LANGS[langs[d]]
        n = int(n_tok[d])
        if originals and doc_u[d, 0] < wl["retweet_frac"]:
            src = originals[int(rt_src[d] * len(originals))]
            text = texts[src]
            if doc_u[d, 1] < 0.7:
                text = "RT @" + users[rt_user[d]] + ": " + text
            texts.append(text)
            lang_out.append(lang_out[src])
            t += n
            continue
        if doc_u[d, 1] < wl["empty_frac"]:
            toks = [empty_token(t + j) for j in range(min(n, 6))]
        else:
            toks = [token(t + j, lang) for j in range(n)]
        t += n
        sep = "\n" if doc_u[d, 2] < 0.05 else " "
        if len(toks) > 4:
            text = " ".join(toks[: len(toks) // 2]) + sep + " ".join(toks[len(toks) // 2:])
        else:
            text = " ".join(toks)
        originals.append(d)
        texts.append(text)
        lang_out.append(lang)

    return pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts, type=pa.string()),
        "lang": pa.array(lang_out, type=pa.string()),
        "source": pa.array([f"src{d % 20}" for d in range(n_docs)], type=pa.string()),
        "n_chars": pa.array([len(x) for x in texts], type=pa.int64()),
    })


def write(workload, seed, out_dir):
    """Generate the workload's corpus into out_dir; returns its path."""
    table = generate(load_workload(workload), seed)
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "documents.parquet")
    pq.write_table(table, path, compression="snappy")
    return path


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    path = write(a.workload, a.seed, a.out)
    print(path, os.path.getsize(path), file=sys.stderr)


if __name__ == "__main__":
    main()
