"""Seeded raw tweet capture and request plan for the serving workloads.

The capture keeps GoldenFixture's closed-form structure on the original
index i (0 until n), so the curated counts after ingest are known without
parsing the output:

  - i % 5 == 0 originals are delivered twice (dedup by id_str);
  - i % 4 == 0 originals have one retweet line (retweeter id RT_BASE + i);
  - i % 9 == 0 originals quote a status by author QUOTE_BASE + i % 10;
  - i % 10 == 0 adds a delete record and a malformed line (dropped by the
    tolerant scan).

Unlike GoldenFixture, vocabulary words, hashtags, authors, languages and
dates are Zipf-distributed, so keyword, hashtag, user and date searches
have real selectivity. The first `authors` originals take author i, so
every author exists and

  tweets = n
  users  = authors + ceil(n / 4) + min(10, number of i % 9 == 0 originals)

Usage: gen_capture.py --workload serve_zipf|serve_scan --seed N
                      --originals N --requests N --out DIR
writes DIR/capture.jsonl, DIR/requests.tsv and DIR/manifest.json.
"""

import argparse
import bisect
import datetime
import json
import os
import random

AUTHOR_BASE = 1000
RT_BASE = 10_000_000
QUOTE_BASE = 5_000_000
ID_QUOTED = 20_000_000
ID_RETWEET = 30_000_000
LANGS = ["en", "es", "tr", "fr", "de", "pt", "ja", "it"]
DAY0 = datetime.datetime(2020, 3, 1, tzinfo=datetime.timezone.utc)
DAYS = 60

# Share of each request type in the plan, after the reference app's pages:
# results (keyword, hashtag, filtered), user pages, and the sidebars.
MIX = [
    ("search_kw", 25), ("search_tag", 15), ("search_filtered", 10),
    ("user", 15), ("user_tweets", 15),
    ("top_users", 7), ("top_favs", 7), ("top_keywords", 6),
]
CACHE_ENTRIES = 15  # the Engine's result cache in both serving workloads
ZIPF_KEYS = 10 * CACHE_ENTRIES  # distinct keys in serve_zipf


class Zipf:
    """Draws ranks 0..n-1 with P(r) proportional to 1 / (r + 1) ** s."""

    def __init__(self, n, s=1.0):
        acc, self.cdf = 0.0, []
        for r in range(n):
            acc += 1.0 / (r + 1) ** s
            self.cdf.append(acc)

    def draw(self, rng):
        return self.rank(rng.random())

    def rank(self, u):
        """The rank whose CDF interval holds u, for u in [0, 1)."""
        return bisect.bisect_left(self.cdf, u * self.cdf[-1])


def stratified(rng, n):
    """n uniforms in [0, 1), one in each of n equal strata, in random order."""
    us = [(j + rng.random()) / n for j in range(n)]
    rng.shuffle(us)
    return us


def make_words(rng, n, lo, hi):
    """n distinct lowercase pseudo-words (consonant-vowel syllables)."""
    cons, vows = "bdfgklmnprstvz", "aeiou"
    out, seen = [], set()
    while len(out) < n:
        w = "".join(rng.choice(cons) + rng.choice(vows)
                    for _ in range(rng.randint(lo, hi)))
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


def twitter_time(ts):
    return ts.strftime("%a %b %d %H:%M:%S +0000 %Y")


class Capture:
    def __init__(self, seed, n, authors):
        self.rng = random.Random(seed)
        rng = self.rng
        self.n, self.authors = n, authors
        self.vocab = make_words(rng, 4000, 2, 4)
        self.tags = ["t" + w for w in make_words(rng, 400, 2, 3)]
        self.word_z = Zipf(len(self.vocab))
        self.tag_z = Zipf(len(self.tags))
        self.author_z = Zipf(authors)
        self.lang_z = Zipf(len(LANGS), 1.2)
        self.day_z = Zipf(DAYS, 0.8)
        # Popular days are spread over the window, not the first days.
        self.day_of_rank = list(range(DAYS))
        rng.shuffle(self.day_of_rank)
        self.followers = {}

    def user(self, uid):
        if uid not in self.followers:
            self.followers[uid] = self.rng.randint(0, 5_000_000)
        return {
            "id": uid, "id_str": str(uid), "name": f"user {uid}",
            "screen_name": f"u{uid}", "verified": uid % 2 == 0,
            "followers_count": self.followers[uid], "friends_count": uid % 491,
            "created_at": "Wed Mar 25 14:17:28 +0000 2020",
        }

    def status(self, sid, text, tags, lang, uid, ts, quoted=None, retweeted=None):
        s = {
            "id": sid, "id_str": str(sid), "text": text,
            "created_at": twitter_time(ts), "lang": lang,
            "favorite_count": self.rng.randint(0, 20_000),
            "retweet_count": self.rng.randint(0, 5_000),
            "quote_count": sid % 10, "reply_count": sid % 7,
            "is_quote_status": quoted is not None,
            "entities": {"hashtags": [{"text": t, "indices": [0, len(t) + 1]}
                                      for t in tags]},
            "user": self.user(uid),
        }
        if quoted is not None:
            s["quoted_status"] = quoted
        if retweeted is not None:
            s["retweeted_status"] = retweeted
        return s

    def write(self, path):
        rng, n = self.rng, self.n
        quotes = 0
        with open(path, "w", encoding="utf-8") as f:
            def emit(obj):
                f.write(json.dumps(obj, separators=(",", ":")) + "\n")

            for i in range(n):
                uid = AUTHOR_BASE + (i if i < self.authors else self.author_z.draw(rng))
                words = [self.vocab[self.word_z.draw(rng)]
                         for _ in range(rng.randint(6, 14))]
                tags = sorted({self.tags[self.tag_z.draw(rng)]
                               for _ in range(rng.randint(0, 3))})
                text = " ".join(words + ["#" + t for t in tags])
                lang = LANGS[self.lang_z.draw(rng)]
                day = self.day_of_rank[self.day_z.draw(rng)]
                ts = DAY0 + datetime.timedelta(days=day, seconds=rng.randint(0, 86_399))
                quoted = None
                if i % 9 == 0:
                    quotes += 1
                    quoted = self.status(ID_QUOTED + i, f"quoted insight {i}", [], lang,
                                         QUOTE_BASE + i % 10, ts)
                orig = self.status(i + 1, text, tags, lang, uid, ts, quoted=quoted)
                emit(orig)
                if i % 5 == 0:
                    emit(orig)
                if i % 4 == 0:
                    emit(self.status(ID_RETWEET + i, f"RT @u{uid}: {text}", tags, lang,
                                     RT_BASE + i, ts + datetime.timedelta(minutes=5),
                                     retweeted=orig))
                if i % 10 == 0:
                    emit({"delete": {"status": {"id": i + 1, "id_str": str(i + 1)}}})
                    f.write("this line is not json at all {{{\n")
        return {
            "tweets": n,
            "users": self.authors + (n + 3) // 4 + min(10, quotes),
        }


def date_range(cap, rng, width):
    start = rng.randrange(0, DAYS - width + 1)
    d1 = DAY0 + datetime.timedelta(days=start)
    d2 = d1 + datetime.timedelta(days=width - 1)
    return d1.strftime("%m/%d/%Y"), d2.strftime("%m/%d/%Y")


def request_fields(cap, rng, kind, i):
    """One request of `kind`. `i` counts requests of that kind, so
    sequences built from it never repeat a key."""
    if kind == "search_kw":
        return [cap.vocab[i % len(cap.vocab)], str(50 - i // len(cap.vocab))]
    if kind == "search_tag":
        return [cap.tags[i % len(cap.tags)], str(50 - i // len(cap.tags))]
    if kind == "search_filtered":
        d1, d2 = date_range(cap, rng, rng.choice([7, 14, 30]))
        return [cap.vocab[i % 500], LANGS[(i // 500) % len(LANGS)], d1, d2,
                str(50 - i // (500 * len(LANGS)))]
    if kind in ("user", "user_tweets"):
        return [f"u{AUTHOR_BASE + i % cap.authors}"] if i < cap.authors else \
            [f"u{RT_BASE + 4 * (i - cap.authors)}"]  # then the retweeters
    return [str(i + 1)]  # top_*: k


def kind_sequence(rng, count):
    """Request kinds in shuffled blocks of 100 that each hold the exact mix,
    so a short run sees the same mix whatever the seed. The first block
    opens with one request of each kind."""
    block = [k for k, w in MIX for _ in range(w)]
    out = []
    while len(out) < count:
        rng.shuffle(block)
        if not out:
            firsts = [block.index(k) for k, _ in MIX]
            block = [block[i] for i in firsts] + [b for i, b in enumerate(block)
                                                  if i not in firsts]
        out.extend(block)
    return out[:count]


def request_plan(cap, seed, workload, count):
    """serve_zipf: per kind, Zipf(s=1) over that kind's share of ZIPF_KEYS
    keys, so hot keys repeat across clients. serve_scan: every key is
    fresh."""
    rng = random.Random(seed * 7919 + 17)
    kinds = kind_sequence(rng, count)
    if workload == "serve_zipf":
        # Key rank j of a kind is entity rank j of the capture, so popular
        # authors and words make popular keys.
        keys = {kind: [request_fields(cap, rng, kind, j)
                       for j in range(ZIPF_KEYS * w // 100)] for kind, w in MIX}
        zipfs = {kind: Zipf(len(ks)) for kind, ks in keys.items()}
        # Stratified draws: each kind's w draws per block of 100 requests
        # cover its Zipf CDF evenly, so the hit ratio of a short run varies
        # little with the seed.
        draws = {kind: [] for kind in keys}
        plan = []
        for kind in kinds:
            if not draws[kind]:
                draws[kind] = stratified(rng, dict(MIX)[kind])
            plan.append((kind, keys[kind][zipfs[kind].rank(draws[kind].pop())]))
        return plan
    counters = {k: 0 for k, _ in MIX}
    plan = []
    for kind in kinds:
        plan.append((kind, request_fields(cap, rng, kind, counters[kind])))
        counters[kind] += 1
    assert len({(k, tuple(f)) for k, f in plan}) == len(plan), "serve_scan repeated a key"
    return plan


def generate(workload, seed, originals, requests, out, **extra):
    """Writes the capture, the plan and the manifest; `extra` goes into the
    manifest as is."""
    os.makedirs(out, exist_ok=True)
    cap = Capture(seed, originals, authors=max(100, originals // 10))
    raw = os.path.join(out, "capture.jsonl")
    expected = cap.write(raw)
    plan = request_plan(cap, seed, workload, requests)
    with open(os.path.join(out, "requests.tsv"), "w", encoding="utf-8") as f:
        for kind, fields in plan:
            f.write("\t".join([kind] + fields) + "\n")
    manifest = {"workload": workload, "seed": seed, "originals": originals,
                "cache_entries": CACHE_ENTRIES,
                "raw_bytes": os.path.getsize(raw), "requests": len(plan), **expected, **extra}
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(manifest, f)
    return manifest


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=["serve_zipf", "serve_scan"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--originals", type=int, default=5_000)
    p.add_argument("--requests", type=int, default=20_000)
    p.add_argument("--out", required=True)
    a = p.parse_args()
    print(json.dumps(generate(a.workload, a.seed, a.originals, a.requests, a.out)))


if __name__ == "__main__":
    main()
