"""Seeded inputs for the benchmark, and the answers they must produce.

The input is a MediaWiki-style dump: one rootless file of `<page>`
elements, the shape real dumps ship in.  The generator also derives the
clean edge set the reference pipeline would keep, by applying the
reference's P1/P2 rules to the exact text it wrote (PageRank.java:71-95,
115-126 of the Hadoop original): keep the part before the first `|`,
trim, reject links containing `{ } < > #` or whose lower case contains
`image:` or `file:`, turn spaces into `_`, dedup per page, then drop
links to pages that do not exist (red links).  The graph-query
workload's fixed citation graph is written by the harness
(`Harness.tables`), since parquet needs the JVM.

Nothing here calls the program: the answers are computed independently
so the benchmark never trusts the program to grade itself.
"""
import bisect
import itertools
import math
import random
import re

# A fixed vocabulary built from syllables, so the dump needs no word list.
_SYL = ["ka", "lo", "mi", "ne", "ru", "ta", "vo", "shi", "en", "dar",
        "mon", "pel", "quo", "ris", "sta", "tor", "ul", "wen", "xa", "zo"]
WORDS = sorted({a + b + c for a in _SYL for b in _SYL
                for c in ("", "n", "s", "th")})
# prose punctuation and entity-bearing tokens the XML layer must decode
_EXTRA = ["R&D", "AT&T", "x > y", "(see below)", "e.g.", "1999,"]

LINK_RE = re.compile(r"\[\[(.+?)\]\]")

# Link targets follow Zipf(ZIPF) over a seeded permutation of the pages,
# so a few hub pages collect most links.
ZIPF = 0.8


def clean_link(raw):
    """The reference's P1/P2 rules for one `[[...]]` body; None if rejected."""
    link = raw.split("|", 1)[0].strip()
    if any(c in link for c in "{}<>#"):
        return None
    low = link.lower()
    if "image:" in low or "file:" in low:
        return None
    return link.replace(" ", "_")


def expected_links(title, text):
    """(page, [distinct clean links in first-seen order]) for one page."""
    seen = {}
    for raw in LINK_RE.findall(text):
        link = clean_link(raw)
        if link is not None:
            seen.setdefault(link, None)
    return title.replace(" ", "_"), list(seen)


def _xml_escape(s):
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


class Dump:
    """A generated dump and its expected link graph.

    titles: normalized page titles (index = page id); src, dst: page ids
    of the expected clean edges; links_raw: `[[...]]` occurrences written.
    """

    def __init__(self, titles, src, dst, links_raw, n_bytes):
        self.titles, self.src, self.dst = titles, src, dst
        self.links_raw, self.n_bytes = links_raw, n_bytes


def _poisson(rng, lam):
    """One Poisson(lam) draw (Knuth's product of uniforms; lam is small)."""
    limit, k, p = math.exp(-lam), 0, rng.random()
    while p > limit:
        k += 1
        p *= rng.random()
    return k


def wiki_dump(path, seed, pages, links_per_page, body_words):
    """Write a dump of `pages` pages to `path` and return its Dump.

    Link targets are Zipf(ZIPF)-distributed.  Every page draws its link
    count from Poisson(`links_per_page`) and its prose length from
    Poisson(`body_words`).
    """
    rng = random.Random(seed)
    nw = len(WORDS)
    titles = [f"{WORDS[rng.randrange(nw)].capitalize()} "
              f"{WORDS[rng.randrange(nw)]} {i}" for i in range(pages)]
    cdf = list(itertools.accumulate(1.0 / r ** ZIPF for r in range(1, pages + 1)))
    hubs = list(range(pages))
    rng.shuffle(hubs)

    def target():
        return titles[hubs[min(bisect.bisect_left(cdf, rng.random() * cdf[-1]),
                               pages - 1)]]

    def word():
        if rng.random() < 0.01:
            return _EXTRA[rng.randrange(len(_EXTRA))]
        return WORDS[rng.randrange(nw)]

    index = {t.replace(" ", "_"): i for i, t in enumerate(titles)}
    src, dst = [], []
    out, total = [], 0
    for p in range(pages):
        body = []
        for _ in range(_poisson(rng, links_per_page)):
            t, k, x = target(), rng.random(), rng.randrange(1_000_000)
            if k < 0.60:
                link = f"[[{t}]]"
            elif k < 0.70:
                link = f"[[{t}|{WORDS[x % nw]} {WORDS[(x // nw) % nw]}]]"
            elif k < 0.75:
                link = f"[[ {t} ]]"
            elif k < 0.83:
                link = f"[[{WORDS[x % nw].capitalize()} topic x{x}]]"
            elif k < 0.85:
                link = f"[[File:Photo {x}.jpg|thumb|A caption]]"
            elif k < 0.86:
                link = f"[[Image:Map {x}.png]]"
            elif k < 0.87:
                link = f"[[Notes on file: {WORDS[x % nw]}]]"
            elif k < 0.90:
                link = f"[[{t}#History]]"
            elif k < 0.91:
                link = f"[[Template{{{x}}}]]"
            elif k < 0.92:
                link = f"[[a<b> {x}]]"
            elif body:
                link = body[x % len(body)]  # a repeat, for the per-page dedup
            else:
                link = f"[[{t}]]"
            body.append(link)
        total += len(body)
        chunk = [word() for _ in range(_poisson(rng, body_words))]
        # interleave prose and links: links land after evenly spaced words
        step = max(1, len(chunk) // (len(body) + 1))
        parts, j = [], 0
        for link in body:
            parts.extend(chunk[j:j + step])
            parts.append(link)
            j += step
        parts.extend(chunk[j:])
        text = " ".join(parts) + "."
        page, links = expected_links(titles[p], text)
        sid = index[page]
        for link in links:
            d = index.get(link)
            if d is not None:
                src.append(sid)
                dst.append(d)
        out.append(f"  <page>\n    <title>{_xml_escape(titles[p])}</title>\n"
                   f"    <ns>0</ns>\n    <id>{p + 1}</id>\n    <revision>\n"
                   f"      <id>{p + 100001}</id>\n"
                   f"      <text xml:space=\"preserve\">{_xml_escape(text)}"
                   f"</text>\n    </revision>\n  </page>\n")
    data = "".join(out).encode("utf-8")
    with open(path, "wb") as f:
        f.write(data)
    return Dump([t.replace(" ", "_") for t in titles], src, dst, total, len(data))


def reference_pagerank(n, src, dst, iters):
    """The reference's PageRank: init 1/N, teleport 0.15/N, damping 0.85,
    dangling mass lost.  Returns the rank vector after each iteration."""
    outdeg = [0] * n
    for s in src:
        outdeg[s] += 1
    rank = [1.0 / n] * n
    history = []
    for _ in range(iters):
        acc = [0.0] * n
        for s, d in zip(src, dst):
            acc[d] += rank[s] / outdeg[s]
        rank = [0.15 / n + 0.85 * a for a in acc]
        history.append(rank)
    return history
