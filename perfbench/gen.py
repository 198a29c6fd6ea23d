"""Seeded input generators for the benchmark workloads.

Every generator takes a `random.Random` and writes tab-separated files that
the Scala harness reads; the program under test only ever sees these inputs.
The same seed always gives the same files.

The expected results are computed here, independently of the program:
`greedy_keep` replays the keep-first fuzzy title dedup (indel ratio > 80,
the reference's `fuzz.ratio`) with a bit-parallel LCS over numpy arrays.
"""
import json
import math
import os
import random

import numpy as np

# ---------------------------------------------------------------- text

SYLLABLES = ["ka", "lo", "mi", "ra", "te", "su", "no", "vi", "de", "pa", "zu",
             "ri", "ha", "go", "ne", "ba", "to", "fe", "li", "mo", "qu", "ya",
             "xe", "wi", "jo", "ce", "du", "si", "ma", "ru"]
COMMON = ["the", "and", "of", "to", "in", "is", "that", "for", "with", "on",
          "as", "was", "by", "at", "from", "this", "after", "new", "over", "more"]
RESERVED = ["External links", "References", "Bibliography", "Notes", "See also"]
TITLE_MAX = 60  # the LCS replay packs a title into one 64-bit word


def word(rng, syllables=(2, 4)):
    return "".join(rng.choice(SYLLABLES) for _ in range(rng.randint(*syllables)))


def vocab(rng, n):
    words = set()
    while len(words) < n:
        words.add(word(rng))
    return sorted(words)


def title(rng, topic_words):
    words = [rng.choice(topic_words) for _ in range(rng.randint(5, 8))]
    words.insert(rng.randint(1, len(words)), rng.choice(COMMON))
    t = " ".join(words).capitalize()
    while len(t) > TITLE_MAX:
        t = t.rsplit(" ", 1)[0]
    return t


def near_dup(rng, t):
    """A small edit of `t`: the kind of title a feed repeats."""
    kind = rng.randrange(3)
    if kind == 0 and len(t) < TITLE_MAX:
        return t + "!"
    if kind == 1:
        return t[:-1]
    i = rng.randrange(len(t))
    return t[:i] + t[i].swapcase() + t[i + 1:]


def sentence(rng, topic_words):
    words = [rng.choice(topic_words) if rng.random() < 0.55 else rng.choice(COMMON)
             for _ in range(rng.randint(8, 14))]
    return " ".join(words).capitalize() + "."


def body(rng, topic_words, n=(3, 6)):
    return " ".join(sentence(rng, topic_words) for _ in range(rng.randint(*n)))


# ------------------------------------------------------- dedup replay

def _popcount64(x):
    return np.unpackbits(x.view(np.uint8).reshape(-1, 8), axis=1).sum(axis=1)


def dup_matrix(titles):
    """dup[i, j] is True when fuzz ratio(titles[i], titles[j]) > 80.

    ratio = rint(100 * 2·LCS / (|a| + |b|)) — the indel ratio. LCS comes
    from the bit-parallel recurrence U = V & Peq[c]; V = (V + U) | (V - U),
    run for all pairs at once."""
    n = len(titles)
    dup = np.zeros((n, n), dtype=bool)
    if n < 2:
        return dup
    assert all(0 < len(t) <= 64 for t in titles)
    alphabet = {c: k for k, c in enumerate(sorted({c for t in titles for c in t}))}
    pad = len(alphabet)
    peq = np.zeros((n, pad + 1), dtype=np.uint64)
    codes = np.full((n, 64), pad, dtype=np.int64)
    for i, t in enumerate(titles):
        for p, c in enumerate(t):
            peq[i, alphabet[c]] |= np.uint64(1 << p)
            codes[i, p] = alphabet[c]
    lens = np.array([len(t) for t in titles], dtype=np.int64)
    ii, jj = np.triu_indices(n, 1)
    v = np.full(len(ii), np.uint64(0xFFFFFFFFFFFFFFFF))
    with np.errstate(over="ignore"):
        for p in range(int(lens.max())):
            u = v & peq[ii, codes[jj, p]]
            v = (v + u) | (v - u)
    masks = np.array([(1 << int(m)) - 1 for m in lens], dtype=np.uint64)
    lcs = lens[ii] - _popcount64(v & masks[ii])
    total = lens[ii] + lens[jj]
    ratio = np.rint((100.0 * (2 * lcs)) / total)
    hit = ratio > 80
    dup[ii[hit], jj[hit]] = True
    dup[jj[hit], ii[hit]] = True
    return dup


def greedy_keep(titles):
    """Indices kept by the keep-first scan over `titles` in order."""
    dup = dup_matrix(titles)
    kept = []
    for i in range(len(titles)):
        if not kept or not dup[i, kept].any():
            kept.append(i)
    return kept


# ------------------------------------------------------------ helpers

def _write(path, rows):
    with open(path, "w", encoding="utf-8") as f:
        for r in rows:
            cells = [str(c) for c in r]
            assert not any(("\t" in c or "\n" in c) for c in cells), cells
            f.write("\t".join(cells) + "\n")


def _articles(rng, n, topics, dup_share):
    """(title, text) pairs; `dup_share` of them repeat an earlier title with
    a small edit."""
    out = []
    for i in range(n):
        words = rng.choice(topics)
        if out and rng.random() < dup_share:
            src_title, _ = rng.choice(out)
            out.append((near_dup(rng, src_title), body(rng, words)))
        else:
            out.append((title(rng, words), body(rng, words)))
    return out


# ----------------------------------------------------- search_serving

SEARCH = {"rate_per_s": 0.6, "sections": 14, "reserved": 3, "articles": 120,
          "topic_words": 40, "dup_share": 0.15, "unregistered_share": 0.15,
          "fetch_miss_share": 0.1, "warm_requests": 12, "jitter": 0.1}
# registered sources and the markup their selector (html.redditSelectors) reads
PAGES = {
    "bbc": '<div class="story-body__inner">{}</div>',
    "cnbc": '<div id="article_body">{}</div>',
    "foxnews": '<div class="article-body">{}</div>',
    "politico": '<div class="story-text">{}</div>',
    "cnn": '<section id="body-text">{}</section>',
}
UNREGISTERED = ["localblog", "nosuchsource"]


def _request(rng, req, p):
    words = vocab(rng, p["topic_words"])
    page_title = "Topic " + " ".join(rng.sample(words, 2)).title()
    n_sec = p["sections"]
    reserved_pos = set(rng.sample(range(1, n_sec + 1), p["reserved"]))
    reserved = iter(rng.sample(RESERVED, p["reserved"]))
    names = iter(sorted({w.title() for w in words})[:n_sec])
    sections = [(req, pos, rng.randint(1, 2), next(reserved) if pos in reserved_pos else next(names))
                for pos in range(1, n_sec + 1)]
    # ranks: non-reserved sections by position, then reserved; top 10 queried,
    # plus the synthetic section 0
    ranked = [s[3] for s in sections if s[1] not in reserved_pos]
    lines = {0: "Uncategorized", **{r + 1: ranked[r] for r in range(min(10, len(ranked)))}}
    arts = _articles(rng, p["articles"], [words], p["dup_share"])
    articles, pages, in_scope = [], [], []
    for i, (t, text) in enumerate(arts):
        aid = i + 1
        source = (rng.choice(UNREGISTERED) if rng.random() < p["unregistered_share"]
                  else rng.choice(sorted(PAGES)))
        sec = rng.randrange(n_sec + 1)
        url = f"https://{source}.example/{req}/{aid}"
        articles.append((req, aid, t, url, source, sec))
        fetched = rng.random() >= p["fetch_miss_share"]
        if fetched:
            markup = PAGES.get(source, '<div class="content">{}</div>')
            paras = "".join(f"<p>{s}.</p>" for s in text.rstrip(".").split(". "))
            pages.append((req, url, f"<html><body><div class=\"nav\">Home</div>"
                                    f"{markup.format(paras)}</body></html>"))
        if sec in lines:
            in_scope.append((aid, t, sec, source in PAGES and fetched))
    keep = greedy_keep([t for _, t, _, _ in in_scope])
    counts = {}
    for k in keep:
        _, _, sec, survives = in_scope[k]
        if survives:
            counts[sec] = counts.get(sec, 0) + 1
    expect = [(req, sec, lines[sec], n) for sec, n in sorted(counts.items())]
    scope = [(req, aid) for aid, _, _, _ in in_scope]
    return page_title, sections, articles, pages, expect, scope, len(keep)


def search_serving(rng, out_dir, seconds, tiny=False):
    p = dict(SEARCH, articles=30, warm_requests=1) if tiny else SEARCH
    n_timed = max(1, int(seconds * p["rate_per_s"]))
    interval = 1.0 / p["rate_per_s"]
    requests, sections, articles, pages, expect, scope = [], [], [], [], [], []
    for req in range(p["warm_requests"] + n_timed):
        # warm requests keep the same schedule, at negative due times
        timed = req - p["warm_requests"]
        due = timed * interval + rng.uniform(-p["jitter"], p["jitter"]) * interval
        due = max(0.0, due) if timed >= 0 else due
        title, s, a, pg, e, sc, kept = _request(rng, req, p)
        requests.append((req, f"{due:.6f}", title, kept))
        sections += s; articles += a; pages += pg; expect += e; scope += sc
    requests.sort(key=lambda r: float(r[1]))
    for name, rows in [("requests", requests), ("sections", sections),
                       ("articles", articles), ("pages", pages), ("expect", expect),
                       ("scope", scope)]:
        _write(os.path.join(out_dir, f"{name}.tsv"), rows)
    return {"items": n_timed}


# -------------------------------------------------------- query_suite

# one query per listener module that owns queries; the rest share a slot
QUERY_MODULES = ["Relational", "TextAnalysis", "Dedup", "Similarity", "Clustering",
                 "Summarize", "Pipeline", "EventAnalytics", "Events"]
MIN_PASSES = 3


def query_sample(rng, catalog):
    """The median-cost eligible query of each module, in seeded order.

    The sample itself is the same for every seed: drawing it per seed moved
    the median latency by up to 40% between seeds (measured), because
    queries of equal catalog cost do not cost the same in a small sample."""
    pools = {}
    for name, q in sorted(catalog.items()):
        if q["eligible"]:
            slot = q["module"] if q["module"] in QUERY_MODULES else "other"
            pools.setdefault(slot, []).append((q["cost_s"], name))
    sample = [sorted(pools[slot])[(len(pools[slot]) - 1) // 2][1] for slot in sorted(pools)]
    rng.shuffle(sample)
    return sample


def query_suite(rng, out_dir, seconds, catalog_path, data_dir, tiny=False):
    with open(catalog_path) as f:
        catalog = json.load(f)["queries"]
    sample = query_sample(rng, catalog)[:3 if tiny else None]
    # whole passes over the sample, enough to fill `seconds` at catalog cost;
    # an odd count, so that the median pass is one measured pass
    cycles = max(MIN_PASSES, math.ceil(seconds / sum(catalog[q]["cost_s"] for q in sample)))
    cycles += 1 - cycles % 2
    _write(os.path.join(out_dir, "sample.txt"), [(q, catalog[q]["module"]) for q in sample])
    _write(os.path.join(out_dir, "sf.txt"), [(os.path.abspath(data_dir),)])
    _write(os.path.join(out_dir, "cycles.txt"), [(cycles,)])
    return {"items": len(sample), "sample": sample}
