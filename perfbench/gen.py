"""Seeded input generator for the graft benchmark.

Everything is a pure function of (seed, shape): the same seed gives
byte-identical ontology files, and document i is a pure function of
(seed, i, ontology).

Names are capitalized two-word pseudo-words; predicates, filler and sentence
templates use ordinary English words, so no alias can match inside a
predicate or a filler sentence. The document mix keeps every input kind the
pipeline filters: lowercase and acronym surface variants, generic-predicate
bait, invalid-name bait, the connected-components bait (an un-aliased
lowercase concept), filler sentences and media spans. A shape with decoys
puts decoy words into filler sentences and writes a second alias table in
which each decoy maps to two canonicals, so `EntityLink.hasAmbiguity` is
true for it.

Layout written under the input directory (what `Pipeline.Conf` reads with
`docsDirOverride = <dir>/docs` and `goldenDir = <dir>/golden`):
    golden/Node_Details.json, golden/Edge_Details.json  reference-export shape
    aliases/part-00000.parquet   (alias, canonical, prior, alias_regex)
    aliases_ambiguous/           the same plus the decoy aliases (shapes
                                 with decoys only)
    docs/part-NNNNN.parquet      (doc_id, spans: list<struct<kind, text,
                                  media_ref, offset>>), plus the _DONE marker
    ontology.json                names, triples, predicates, decoys
    _COMPLETE                    written last
"""
import hashlib
import json
import os
import random
import re
import shutil

VERBS = [
    "enables", "supports", "extends", "requires", "improves", "precedes",
    "influences", "contains", "produces", "describes", "governs", "refines",
    "measures", "predicts", "shapes", "limits", "drives", "informs", "models",
    "guides", "tracks", "feeds", "hosts", "maps", "serves", "joins", "blends",
    "merges", "powers", "outlines"]
PARTICLES = ["", "into", "through", "across", "beyond", "within", "alongside", "toward"]
GENERIC_PREDS = ["related to", "is related to", "relates to"]
FILLERS = [
    "the quarterly budget was finalized after a long meeting.",
    "several teams gathered to discuss the upcoming roadmap.",
    "the committee reviewed the proposal and adjourned early.",
    "a fresh pot of coffee appeared in the break room.",
    "the annual retreat was moved to a later month.",
    "nobody remembered who had booked the large hall."]
DECOY_FILLER = "the {} ledger was archived before noon."
TEMPLATES = ["{s} {p} {o}.", "It is documented that {s} {p} {o}.",
             "{s} {p} {o}, according to the survey."]
# open-path subjects the concept-validity gate must reject
INVALID_NAMES = ["Xq#z", "ab", "Qzw Vbn Mlk Jhg", "Zz@k"]

_M = (1 << 64) - 1


def mix(seed, i):
    """splitmix64-style hash of (seed, i)."""
    h = (seed ^ (i * 0x9E3779B97F4A7C15)) & _M
    h ^= h >> 33
    h = (h * 0xFF51AFD7ED558CCD) & _M
    h ^= h >> 33
    h = (h * 0xC4CEB9FE1A85EC53) & _M
    h ^= h >> 33
    return h


def _pseudo_word(rng):
    onsets, vowels = "bdfgklmnprstvz", "aeiou"
    codas = ["x", "k", "z", "r", "n", "rk", "nd", "lt", "sk", "v"]

    def syl():
        return rng.choice(onsets) + rng.choice(vowels)
    return syl() + syl() + rng.choice(codas)


def ontology(seed, shape):
    """Concept names, distinct triples (every concept in at least one),
    predicates with distinct normalized forms, and single-word decoys."""
    rng = random.Random(mix(seed, 0x0E7010))
    pool_size = int((3 * shape["concepts"]) ** 0.5) + 5
    words = []
    while len(words) < pool_size + shape["decoys"]:
        w = _pseudo_word(rng)
        if w not in words:
            words.append(w)
    pool = [w.capitalize() for w in words[:pool_size]]
    decoys = words[pool_size:]
    names, seen = [], set()
    while len(names) < shape["concepts"]:
        a, b = rng.choice(pool), rng.choice(pool)
        n = f"{a} {b}"
        if a != b and n not in seen:
            seen.add(n)
            names.append(n)
    all_preds = [f"{v} {p}".strip() for v in VERBS for p in PARTICLES]
    rng.shuffle(all_preds)
    preds = [p.capitalize() if rng.randrange(10) == 0 else p
             for p in all_preds[:shape["predicates"]]]
    triples, tseen = [], set()

    def add_random(s):
        o = rng.choice(names)
        t = (s, rng.choice(preds), o)
        if o != s and t not in tseen:
            tseen.add(t)
            triples.append(t)
            return True
        return False
    for n in names:
        if len(triples) >= shape["triples"]:
            break
        while not add_random(n):
            pass
    while len(triples) < shape["triples"]:
        add_random(rng.choice(names))
    return {"names": names, "triples": triples, "preds": preds, "decoys": decoys}


def acronyms(names):
    """name -> two-letter acronym, for acronyms that belong to one name."""
    by = {}
    for n in names:
        by.setdefault("".join(w[0] for w in n.split(" ")), []).append(n)
    return {ns[0]: a for a, ns in by.items() if len(ns) == 1}


def cc_bait(o):
    """The concept whose lowercase form gets no alias."""
    return o["names"][0]


def boundary_regex(alias):
    return f"(^|[^A-Za-z0-9]){re.escape(alias)}($|[^A-Za-z0-9])"


def alias_rows(o, decoys):
    """Identity, lowercase (withheld for the cc bait), unique acronyms, and
    with `decoys` each decoy word mapped to two canonicals."""
    bait = cc_bait(o)
    rows = []
    for n in o["names"]:
        rows.append((n, n, 1.0))
        if n != bait:
            rows.append((n.lower(), n, 0.7))
    for n, a in sorted(acronyms(o["names"]).items(), key=lambda kv: kv[1]):
        rows.append((a, n, 0.6))
    for d in o["decoys"] if decoys else []:
        for c in ("Primary", "Secondary"):
            rows.append((d, f"{d.capitalize()} {c}", 0.5))
    return [(a, c, p, boundary_regex(a)) for a, c, p in rows]


class DocMaker:
    def __init__(self, seed, o):
        self.seed, self.o = seed, o
        self.bait = cc_bait(o)
        self.acr = acronyms(o["names"])
        self.with_bait = [t for t in o["triples"] if self.bait in (t[0], t[2])]

    def doc(self, i):
        """One document: 2-4 sentences, each its own text span, with media
        spans interleaved. Document i carries triple i mod |T| verbatim."""
        o, rng = self.o, random.Random(mix(self.seed, i))
        spans, offset = [], 0

        def text(t):
            nonlocal offset
            spans.append(("text", t, "", offset))
            offset += len(t) + 1

        def surface(n):
            r = rng.randrange(10)
            if r in (7, 8) and n != self.bait:
                return n.lower()
            if r == 9:
                return self.acr.get(n, n)
            return n

        def sentence(s, p, ob):
            return rng.choice(TEMPLATES).format(s=s, p=p, o=ob)
        triples = o["triples"]
        for k in range(2 + rng.randrange(3)):
            if rng.randrange(10) < 3:
                spans.append(("media", "", f"media://{mix(self.seed ^ i, len(spans)):016x}", offset))
                offset += 1
            if k == 0:
                text(sentence(*triples[i % len(triples)]))
                continue
            r = rng.randrange(20)
            if r < 2:
                if o["decoys"] and rng.randrange(2):
                    text(DECOY_FILLER.format(rng.choice(o["decoys"])))
                else:
                    text(rng.choice(FILLERS))
            elif r < 4:
                s, _, ob = rng.choice(triples)
                text(f"{s} {rng.choice(GENERIC_PREDS)} {ob}.")
            elif r == 4:
                _, p, ob = rng.choice(triples)
                text(f"{rng.choice(INVALID_NAMES)} {p} {ob}.")
            elif r == 5:
                s, p, ob = rng.choice(self.with_bait)
                low = [x.lower() if x == self.bait else x for x in (s, ob)]
                text(f"{low[0]} {p} {low[1]}.")
            else:
                s, p, ob = rng.choice(triples)
                text(sentence(surface(s), p, surface(ob)))
        return f"doc-{i:09d}", spans


def golden_json(o):
    """(Node_Details.json, Edge_Details.json) bytes in the reference shape."""
    def named(n):
        return {"properties": {"name": n}}
    nodes = [{"n": named(n)} for n in o["names"]]
    edges = [{"n": named(s), "r": {"properties": {"type": p}}, "m": named(ob)}
             for s, p, ob in o["triples"]]
    dump = lambda x: json.dumps(x, separators=(",", ":")).encode()
    return dump(nodes), dump(edges)


def input_dir(root, seed, shape):
    """Cache directory of (seed, shape) for this version of the generator."""
    key = "-".join(f"{k}{shape[k]}" for k in sorted(shape))
    with open(__file__, "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:12]
    return os.path.join(root, f"s{seed}-{key}-g{version}")


def ensure(root, seed, shape):
    """Write (or reuse) the inputs of (seed, shape); returns the directory."""
    d = input_dir(root, seed, shape)
    marker = os.path.join(d, "_COMPLETE")
    if os.path.exists(marker):
        os.utime(marker)
        return d
    import pyarrow as pa
    import pyarrow.parquet as pq
    shutil.rmtree(d, ignore_errors=True)
    o = ontology(seed, shape)
    os.makedirs(os.path.join(d, "golden"))
    for name, data in zip(("Node_Details.json", "Edge_Details.json"), golden_json(o)):
        with open(os.path.join(d, "golden", name), "wb") as f:
            f.write(data)
    with open(os.path.join(d, "ontology.json"), "w") as f:
        json.dump(o, f)
    for name, decoys in (("aliases", False), ("aliases_ambiguous", True)):
        if decoys and not o["decoys"]:
            continue
        rows = alias_rows(o, decoys)
        os.makedirs(os.path.join(d, name))
        pq.write_table(pa.table({
            "alias": [r[0] for r in rows], "canonical": [r[1] for r in rows],
            "prior": [r[2] for r in rows], "alias_regex": [r[3] for r in rows]}),
            os.path.join(d, name, "part-00000.parquet"))
    span_t = pa.list_(pa.struct([("kind", pa.string()), ("text", pa.string()),
                                 ("media_ref", pa.string()), ("offset", pa.int32())]))
    maker, n, files = DocMaker(seed, o), shape["docs"], shape["files"]
    os.makedirs(os.path.join(d, "docs"))
    for f in range(files):
        ids, spans = [], []
        for i in range(f * n // files, (f + 1) * n // files):
            doc_id, sp = maker.doc(i)
            ids.append(doc_id)
            spans.append([dict(zip(("kind", "text", "media_ref", "offset"), s)) for s in sp])
        pq.write_table(pa.table({"doc_id": pa.array(ids, pa.string()),
                                 "spans": pa.array(spans, span_t)}),
                       os.path.join(d, "docs", f"part-{f:05d}.parquet"))
    # the pipeline treats a docs dir with this marker as already built
    open(os.path.join(d, "docs", "_DONE"), "w").write("ok")
    open(marker, "w").write("ok")
    return d


def evict(root, keep):
    """Keep the `keep` most recently used input sets under root."""
    def used(d):
        m = os.path.join(root, d, "_COMPLETE")
        return os.path.getmtime(m) if os.path.exists(m) else 0.0
    for d in sorted(os.listdir(root), key=used, reverse=True)[keep:]:
        shutil.rmtree(os.path.join(root, d), ignore_errors=True)
