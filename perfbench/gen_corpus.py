"""Seeded article corpus in the reference's input model.

One article per file under ``text/``, plus ``parquet/documents.parquet``
holding the same articles as (doc_id, text) rows. The vocabulary is built
from the repository's own word lists (the test articles and the bundled
stopword list) plus seeded synthetic roots and inflectional suffixes, so the
stemmer has real work. Word frequencies follow a Zipf law, about 40% of
tokens are stopwords, and article lengths are lognormal.

The same (seed, articles) always gives the same bytes. ``vocab.txt`` lists
every token the reference tokenizer yields on the corpus, and ``meta.json``
records the input bytes, article count and vocabulary size.

    python3 perfbench/gen_corpus.py --seed 1 --articles 400 --out DIR
"""
import argparse
import json
import os
import re
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SUFFIXES = ["s", "es", "ed", "ing", "ly", "er", "ers", "ness", "ment", "ments",
            "ation", "ations", "ful", "ous", "ive", "able", "ize", "izes",
            "ized", "izing", "ity", "ities", "al", "ally", "ism", "ist"]
ONSETS = ["b", "c", "d", "f", "g", "h", "j", "k", "l", "m", "n", "p", "r", "s",
          "t", "v", "w", "z", "br", "cl", "dr", "gr", "pl", "pr", "st", "tr", "sh", "ch"]
VOWELS = ["a", "e", "i", "o", "u", "ai", "ea", "io", "ou"]
CODAS = ["", "", "", "n", "r", "l", "s", "t", "m", "nd", "rt", "st"]
STOP_SHARE = 0.4
ZIPF_S = 1.07


def local_words():
    """Content words of the test articles and the reachable stopwords."""
    words = set()
    cdir = os.path.join(ROOT, "src", "test", "resources", "corpus")
    for name in sorted(os.listdir(cdir)):
        with open(os.path.join(cdir, name), encoding="utf-8") as f:
            words.update(w.lower() for w in re.findall(r"[A-Za-z]+", f.read()))
    with open(os.path.join(ROOT, "src", "main", "resources", "stopwords.txt"),
              encoding="utf-8") as f:
        stops = sorted({w.strip() for w in f.read().splitlines()
                        if re.fullmatch(r"[a-z]+", w.strip())})
    return sorted(words - set(stops)), stops


def synthetic_roots(rng, n):
    roots = set()
    while len(roots) < n:
        syl = rng.choice([1, 2, 2, 3])
        roots.add("".join(rng.choice(ONSETS) + rng.choice(VOWELS) + rng.choice(CODAS)
                          for _ in range(syl)))
    return sorted(roots)


def vocabulary(rng, roots=4000):
    content, stops = local_words()
    base = sorted(set(content) | set(synthetic_roots(rng, roots)))
    forms = list(base)
    for r in base:  # each root gets a few inflected forms
        for suf in rng.choice(SUFFIXES, size=rng.integers(1, 5), replace=False):
            forms.append(r + suf)
    forms = sorted(set(forms) - set(stops))
    rng.shuffle(forms)
    return forms, stops


def zipf_weights(n):
    w = 1.0 / np.arange(1, n + 1) ** ZIPF_S
    return w / w.sum()


def article(rng, n_tokens, content, cw, stops, sw):
    is_stop = rng.random(n_tokens) < STOP_SHARE
    toks = np.where(is_stop,
                    np.asarray(stops, dtype=object)[rng.choice(len(stops), n_tokens, p=sw)],
                    np.asarray(content, dtype=object)[rng.choice(len(content), n_tokens, p=cw)])
    lines, sentence, para = [], [], []
    sent_len = rng.integers(6, 24)
    para_len = rng.integers(2, 7)
    for t in toks:
        if not sentence:
            t = t.capitalize()
        elif rng.random() < 0.01:
            sentence.append(str(rng.integers(1, 3000)))
        sentence.append(t)
        if len(sentence) >= sent_len:
            if len(sentence) > 8 and rng.random() < 0.5:
                sentence[len(sentence) // 2] += ","
            para.append(" ".join(sentence) + ".")
            sentence, sent_len = [], rng.integers(6, 24)
            if len(para) >= para_len:
                lines.append(" ".join(para))
                para, para_len = [], rng.integers(2, 7)
    if sentence:
        para.append(" ".join(sentence) + ".")
    if para:
        lines.append(" ".join(para))
    return "\n".join(lines)


def clean_tokens(text):
    """The reference tokenizer: lowercase, delete non-letters, split on spaces."""
    return re.sub(r"[^a-z ]", "", re.sub(r"[\n\r]", " ", text.lower())).split()


def generate(seed, articles, out):
    rng = np.random.default_rng(seed)
    content, stops = vocabulary(rng)
    cw, sw = zipf_weights(len(content)), zipf_weights(len(stops))
    lengths = np.clip(rng.lognormal(np.log(650), 0.55, articles), 40, 6000).astype(int)
    if os.path.exists(out):
        shutil.rmtree(out)
    tdir = os.path.join(out, "text")
    os.makedirs(tdir)
    os.makedirs(os.path.join(out, "parquet"))
    texts, names, vocab, nbytes = [], [], set(), 0
    for i, n in enumerate(lengths):
        body = article(rng, int(n), content, cw, stops, sw)
        name = f"article_{i:05d}.txt"
        data = (body + "\n").encode("utf-8")
        with open(os.path.join(tdir, name), "wb") as f:
            f.write(data)
        nbytes += len(data)
        texts.append(body)
        names.append(name)
        vocab.update(clean_tokens(body))
    pq.write_table(pa.table({"doc_id": pa.array(range(articles), pa.int64()),
                             "name": pa.array(names), "text": pa.array(texts)}),
                   os.path.join(out, "parquet", "documents.parquet"))
    with open(os.path.join(out, "vocab.txt"), "w", encoding="utf-8") as f:
        f.write("\n".join(sorted(vocab)) + "\n")
    meta = {"seed": seed, "articles": articles, "input_bytes": nbytes,
            "vocab_size": len(vocab), "tokens": int(lengths.sum())}
    with open(os.path.join(out, "meta.json"), "w") as f:
        json.dump(meta, f)
    return meta


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--articles", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    print(json.dumps(generate(a.seed, a.articles, a.out)))
