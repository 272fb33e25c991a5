"""Seeded input generators for the three workloads.

Every generator is a pure function of (workload, seed, size): it returns
a dict of relative file name -> bytes, so the same seed always yields
byte-identical files. The engine only ever sees these files.
"""
import json
import random

# Generated properties, recorded in README.md and BENCHMARK.json.
AUDIO = dict(channels=72, below_min_videos=8, quota_tiers=6,
             resume_share=0.30, burst_s=6)
TEXT = dict(docs=4000, exact_dup=0.10, near_dup=0.10, other_lang=0.05,
            too_short=0.05, low_quality=0.05, pii=0.10)
REFRESH = dict(history=50000, batches=5, batch_docs=1200,
               ingested_share=2 / 3, cross_batch_dup=0.03)

WARM_AUDIO = dict(AUDIO, channels=48, below_min_videos=6)
WARM_TEXT = dict(TEXT, docs=200)
WARM_REFRESH = dict(REFRESH, batches=3)

# Subscriber-count lower bounds of the six quota tiers
# (functions.Scalars.quotaForSubs: 10, 20, 30, 40, 50, 60 videos).
TIER_SUBS = [0, 10000, 30000, 50000, 100000, 200000, 250000]

STOP = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "it"],
    "de": ["der", "die", "das", "und", "ein", "eine", "von", "zu"],
    "es": ["el", "los", "las", "una", "por"],
    "fr": ["le", "et", "les", "des", "une", "du"],
}
# Function words of no gated language: documents built from them and
# content words are predicted 'und' and rejected by the language gate.
OTHER = ["il", "di", "che", "non", "per", "con", "het", "een", "niet"]


def _dumps(rows):
    return "".join(json.dumps(r, sort_keys=True, separators=(",", ":"),
                              ensure_ascii=False) + "\n"
                   for r in rows).encode("utf-8")


def _rnd(workload, seed, p):
    """The generator's random stream: one per (workload, seed, sizes)."""
    return random.Random("%s:%d:%s" % (workload, seed, json.dumps(p, sort_keys=True)))


def _params(p, **extra):
    return json.dumps(dict(p, **extra), sort_keys=True).encode("utf-8")


def java_hash(s):
    """Java String.hashCode of an ASCII string, as a signed 32-bit int."""
    h = 0
    for ch in s:
        h = (31 * h + ord(ch)) & 0xFFFFFFFF
    return h - (1 << 32) if h >= (1 << 31) else h


def playlist(url):
    """Video ids io.FakeAudioFetcher lists for a channel url."""
    h = abs(java_hash(url))
    return ["v%010d_%03d" % (h, i) for i in range(h % 40 + 5)]


def audio(seed, p=AUDIO):
    """Channel c gets quota tier c % 6 and a playlist of 5 + 7c % 40
    videos whatever the seed, so seeds differ in urls, video ids (hence
    fetch statuses and burst counts), subscriber counts and the resume
    sample, not in how much work each channel holds."""
    rnd = _rnd("audio_ingest", seed, p)
    channels, ingested = [], []
    for c in range(p["channels"]):
        tier = c % p["quota_tiers"]
        below = c >= p["channels"] - p["below_min_videos"]
        while True:
            url = "https://yt/c/%d-%08x" % (c, rnd.getrandbits(32))
            if len(playlist(url)) == 5 + 7 * c % 40:
                break
        channels.append({
            "title": "channel %d" % c,
            "id": "UC%022d" % (c + 1),
            "n_videos": rnd.randint(0, 4) if below else rnd.randint(5, 300),
            "n_views": rnd.randint(0, 10 ** 6),
            "n_subs": rnd.randrange(TIER_SUBS[tier], TIER_SUBS[tier + 1]),
            "custom_url": "@c%d" % c,
            "email": None,
            "url": url,
        })
        ingested += [v for v in playlist(url) if rnd.random() < p["resume_share"]]
    rnd.shuffle(channels)
    return {"params.json": _params(p),
            "channels.jsonl": _dumps(channels),
            "ingested.jsonl": _dumps({"video_id": v} for v in sorted(ingested))}


class _Words:
    def __init__(self, rnd):
        self.rnd = rnd
        syl = ["ka", "lo", "mi", "tre", "sun", "var", "pel", "dor", "fin",
               "gra", "hul", "zen", "bri", "cas", "mon", "tup", "wex", "nar"]
        vocab = set()
        while len(vocab) < 4000:
            vocab.add("".join(rnd.choice(syl) for _ in range(rnd.randint(2, 4))))
        self.vocab = sorted(vocab)

    def text(self, lang, n):
        rnd, out = self.rnd, []
        stops = OTHER if lang == "other" else STOP[lang]
        for i in range(n):
            w = rnd.choice(stops) if rnd.random() < 0.3 else rnd.choice(self.vocab)
            if i % 12 == 11 or i == n - 1:
                w += "."
            out.append(w)
        return out


def _pii(rnd):
    return rnd.choice([
        "mail user%d@example.com" % rnd.randint(1, 999),
        "see https://site%d.example.org/page" % rnd.randint(1, 99),
        "call 555-%03d-%04d" % (rnd.randint(0, 999), rnd.randint(0, 9999)),
        "host 10.0.%d.%d" % (rnd.randint(0, 255), rnd.randint(1, 254)),
    ]).split(" ")


def corpus(rnd, words, n, p, first_id=1):
    """n documents with the stated shares of exact duplicates,
    one-word near-duplicates and gate rejects. Returns [(id, text)]."""
    docs, bases = [], []
    langs = ["en", "en", "en", "fr", "de", "es"]
    for i in range(n):
        r = rnd.random()
        if bases and r < p["exact_dup"]:
            text = rnd.choice(bases)
        elif bases and r < p["exact_dup"] + p["near_dup"]:
            w = rnd.choice(bases).split(" ")
            w[rnd.randrange(len(w))] = rnd.choice(words.vocab)
            text = " ".join(w)
        else:
            r -= p["exact_dup"] + p["near_dup"]
            if r < p["other_lang"]:
                w = words.text("other", rnd.randint(30, 120))
            elif r < p["other_lang"] + p["too_short"]:
                w = words.text("en", rnd.randint(2, 7))
            elif r < p["other_lang"] + p["too_short"] + p["low_quality"]:
                w = [x + ";;;;" for x in words.text("en", rnd.randint(20, 80))]
            else:
                w = words.text(rnd.choice(langs), rnd.randint(12, 160))
                if rnd.random() < p["pii"]:
                    k = rnd.randrange(len(w))
                    w[k:k] = _pii(rnd)
            text = " ".join(w)
            bases.append(text)
        docs.append((first_id + i, text))
    return docs


def _text_bytes(docs):
    return sum(len(t.encode("utf-8")) for _, t in docs)


def text(seed, p=TEXT):
    rnd = _rnd("text_curation", seed, p)
    docs = corpus(rnd, _Words(rnd), p["docs"], p)
    ids = [d[0] for d in docs]
    rnd.shuffle(ids)  # ids carry no arrival order
    rows = ({"doc_id": i, "text": t} for i, (_, t) in zip(ids, docs))
    return {"params.json": _params(p, in_text_bytes=_text_bytes(docs)),
            "docs.jsonl": _dumps(sorted(rows, key=lambda r: r["doc_id"]))}


def refresh(seed, p=REFRESH):
    rnd = _rnd("corpus_refresh", seed, p)
    words = _Words(rnd)
    hist = p["history"]
    files = {"history.csv": "".join("%d\n" % i for i in range(1, hist + 1)).encode()}
    next_new, t0, prev_new, text_bytes = hist + 1, 1767225600, [], 0
    for b in range(p["batches"]):
        n = p["batch_docs"]
        docs = corpus(rnd, words, n, TEXT, first_id=0)
        rows = []
        new_texts = []
        for k, (_, t) in enumerate(docs):
            if rnd.random() < p["ingested_share"]:
                doc_id = rnd.randint(1, hist)
            else:
                if prev_new and rnd.random() < p["cross_batch_dup"]:
                    t = rnd.choice(prev_new)  # duplicate of the last batch
                doc_id, next_new = next_new, next_new + 1
                new_texts.append(t)
            # event times are seeded: batch b spans minute b*2 .. b*2+1
            rows.append({"doc_id": doc_id, "text": t,
                         "event_s": t0 + b * 120 + k * 60 // n})
        prev_new = new_texts
        text_bytes += _text_bytes((r["doc_id"], r["text"]) for r in rows)
        files["batches/batch_%03d.jsonl" % b] = _dumps(rows)
    files["params.json"] = _params(p, in_text_bytes=text_bytes)
    return files


GENERATORS = {
    "audio_ingest": (audio, AUDIO, WARM_AUDIO),
    "text_curation": (text, TEXT, WARM_TEXT),
    "corpus_refresh": (refresh, REFRESH, WARM_REFRESH),
}
