"""Seeded workload generator: Common-Crawl-like page tables for the benchmark.

Each workload is written as parquet in the program's `Page.schema`
(url, warc_ts, html, text, lang) plus a `truth.parquet` sidecar:

  url    the doc's url
  grp    planted duplicate group: docs copied from one base at 5-gram
         shingle Jaccard >= ~0.83; null when the doc has no planted copy
  twin   true for batch docs copied from a doc of the existing corpus
         (boilerplate_incremental), which the run must drop

Near-threshold boilerplate pairs are never planted groups.
The same (workload, seed, n) always gives byte-identical files.

    python3 perfbench/gen.py <workload> <seed> <n> <out_dir>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def _vocab():
    r = np.random.default_rng(20240917)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    return np.array(["".join(r.choice(letters, int(r.integers(3, 9)))) for _ in range(4096)],
                    dtype=object)


VOCAB = _vocab()
WORD_INDEX = {w: k for k, w in enumerate(VOCAB.tolist())}
LANGS = ("en",) * 6 + ("de", "fr")
PAGE_SCHEMA = pa.schema([
    pa.field("url", pa.string(), nullable=False),
    pa.field("warc_ts", pa.timestamp("us", tz="UTC")),
    pa.field("html", pa.binary()),
    pa.field("text", pa.string()),
    pa.field("lang", pa.string()),
])
TRUTH_SCHEMA = pa.schema([("url", pa.string()), ("grp", pa.int64()), ("twin", pa.bool_())])
# token substitution rates of near copies: 5-gram Jaccard to the base
# stays >= ~0.9, so detection at (b=25, r=10) is >= 0.9999 per copy
NEAR_RATES = (0.0025, 0.005, 0.01)


def words(idx):
    return " ".join(VOCAB[idx].tolist())


class Gen:
    def __init__(self, seed, stream):
        self.r = np.random.default_rng([seed, stream])

    def toks(self, k):
        return self.r.integers(0, len(VOCAB), int(k))

    def length(self):
        # lognormal, median 200 tokens, clamped to [20, 800]
        return int(min(800, max(20, round(np.exp(self.r.normal(np.log(200.0), 0.6))))))

    def mutate(self, toks, rate):
        """Substitutes each token with probability `rate`, at least one."""
        out = toks.copy()
        hit = self.r.random(len(out)) < rate
        if not hit.any():
            hit[self.r.integers(0, len(out))] = True
        out[hit] = self.toks(int(hit.sum()))
        return out

    def near(self, toks):
        return self.mutate(toks, NEAR_RATES[int(self.r.integers(0, len(NEAR_RATES)))])

    def html(self, text):
        # markup, nav links and an inline config blob make html several
        # times the size of text, as on a crawled page
        w = VOCAB[self.toks(48)].tolist()
        links = "".join(f'<li><a href="/{w[k]}-{w[k + 1]}">{w[k + 2]} {w[k + 3]}</a></li>'
                        for k in range(0, 48, 4))
        blob = self.r.bytes(max(256, len(text) // 2)).hex()
        return (f'<!doctype html><html lang="en"><head><meta charset="utf-8">'
                f'<title>{text[:48]}</title>'
                f'<meta name="viewport" content="width=device-width, initial-scale=1">'
                f'<link rel="stylesheet" href="/static/site.css"></head><body>'
                f'<nav class="site-nav"><ul>{links}</ul></nav>'
                f'<main class="content"><p>{text}</p></main>'
                f'<script>window.__cfg={{"k":"{blob}"}};</script>'
                f'<footer class="site-footer"><ul>{links}</ul></footer></body></html>').encode()

    def ts(self):
        return int(1_600_000_000_000_000 + self.r.integers(0, 100_000_000_000_000))


def crawl_docs(g, n, tag):
    """The crawl mix: 55% unique, 15% exact copies, 20% near copies, 7% with
    a shared 100-token run, 3% short (< min_length tokens) and 1% copies of
    one hot template. Docs come in blocks of 8 that may share a base; the
    exact and near copies of a block's base are its planted group."""
    hot = g.toks(150)
    rows, truth = [], []
    block, base = -1, None
    for i in range(n):
        if i // 8 != block:
            block, base = i // 8, None
        grp = None
        u = g.r.random()
        if u < 0.01:
            t, grp = hot, -1
        elif u < 0.55:
            t = g.toks(g.length())
        elif u < 0.97:
            if base is None:
                base = g.toks(g.length())
            if u < 0.70:
                t, grp = base, block
            elif u < 0.90:
                t, grp = g.near(base), block
            else:
                t = np.concatenate([g.toks(40), np.resize(base, 100), g.toks(40)])
        else:
            t = g.toks(g.r.integers(1, 5))
        text = words(t)
        url = f"https://www.{VOCAB[block % 4096]}{block % 389}.com/{tag}/{i}.html"
        rows.append((url, g.ts(), g.html(text), text, LANGS[i % len(LANGS)]))
        truth.append((url, grp, False))
    return rows, truth


def crawl_mixed(seed, n):
    rows, truth = crawl_docs(Gen(seed, 1), n, "c")
    return rows, truth, None


def host_page(g, blocks):
    """Boilerplate blocks interleaved with a unique body, sized so that
    the shared-shingle share of the page is 0.74-0.82."""
    shared = sum(len(b) - 4 for b in blocks)
    share = g.r.uniform(0.74, 0.82)
    body = max(len(blocks), int(round(shared / share + 4)) - sum(len(b) for b in blocks))
    cuts = np.sort(g.r.integers(0, body + 1, len(blocks) - 1))
    seq = []
    for b, p in zip(blocks, np.split(g.toks(body), cuts)):
        seq += [b, p]
    return np.concatenate(seq)


def tail_edit(g, toks):
    """One token substituted in the last 30% of the page (an edited footer
    or date): shingle Jaccard to the source >= ~0.84, and the first 70% of
    the text stays a shared run of over 200 chars."""
    out = toks.copy()
    k = int(g.r.integers(int(len(out) * 0.7), len(out)))
    out[k] = (out[k] + 1 + int(g.r.integers(0, len(VOCAB) - 1))) % len(VOCAB)
    return out


def boilerplate_incremental(seed, n):
    """Short pages (60-120 tokens) from 300 hosts, html null, plus an
    existing corpus of 2n earlier pages of the same hosts.

    A host's pages share 2-3 boilerplate blocks (nav, sidebar, footer; each
    under 180 chars, so no two pages share a 200-char run) sized so that
    two pages of one host sit at shingle Jaccard ~0.59-0.69, just under the
    0.7 threshold. In the batch, three hot templates cover 15% of docs
    (each template's copies are one planted group); 10% are exact and 10%
    tail-edited copies of a recent batch page (the page and its copies are
    one planted group); 10% are twins of corpus pages (3% exact, 7%
    tail-edited), which the incremental probe must drop."""
    g = Gen(seed, 2)
    hosts = []
    for h in range(300):
        blocks = []
        for _ in range(int(g.r.integers(2, 4))):
            b = g.toks(30)
            while len(words(b)) > 180:
                b = b[:-1]
            blocks.append(b)
        hosts.append((f"{VOCAB[h * 7 % 4096]}-{h}.org", blocks))
    corpus = []
    for j in range(2 * n):
        host, blocks = hosts[int(g.r.integers(0, len(hosts)))]
        corpus.append((f"https://{host}/old/{j}", g.ts(), None, host_page(g, blocks), "en"))
    templates = [g.toks(k) for k in (80, 95, 110)]
    rows, grps, twins, originals = [], [], [], []
    for i in range(n):
        u = g.r.random()
        host, blocks = hosts[int(g.r.integers(0, len(hosts)))]
        grp, twin = None, False
        if u < 0.15:
            k = 0 if u < 0.07 else (1 if u < 0.12 else 2)
            t = templates[k] if g.r.random() < 0.7 else tail_edit(g, templates[k])
            grp = -1 - k
        elif u < 0.35 and originals:
            src = originals[int(g.r.integers(max(0, len(originals) - 500), len(originals)))]
            t = rows[src][3] if u < 0.25 else tail_edit(g, rows[src][3])
            grp = grps[src] = src
            host = rows[src][0].split("/")[2]
        elif u < 0.45:
            src = corpus[int(g.r.integers(0, len(corpus)))]
            t = src[3] if u < 0.38 else tail_edit(g, src[3])
            host, twin = src[0].split("/")[2], True
        else:
            t = host_page(g, blocks)
            originals.append(i)
        rows.append((f"https://{host}/p/{i}", g.ts(), None, t, "en"))
        grps.append(grp)
        twins.append(twin)
    truth = [(r[0], grp, tw) for r, grp, tw in zip(rows, grps, twins)]
    as_text = lambda rs: [(u, ts, h, words(t), lang) for u, ts, h, t, lang in rs]
    return as_text(rows), truth, as_text(corpus)


GENERATORS = {"crawl_mixed": crawl_mixed, "boilerplate_incremental": boilerplate_incremental}


def write_pages(rows, path):
    url, ts, html, text, lang = zip(*rows)
    table = pa.table([
        pa.array(url, pa.string()),
        pa.array(ts, pa.int64()).cast(pa.timestamp("us", tz="UTC")),
        pa.array(html, pa.binary()),
        pa.array(text, pa.string()),
        pa.array(lang, pa.string()),
    ], schema=PAGE_SCHEMA)
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "part-0.parquet"), compression="snappy",
                   row_group_size=8192)


def generate(workload, seed, n, out):
    """Writes <out>/input (plus <out>/corpus, the existing corpus) and
    <out>/truth.parquet. A finished <out> (marked by _DONE) is reused."""
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    if workload not in GENERATORS:
        raise ValueError(f"unknown workload {workload!r}; expected one of {sorted(GENERATORS)}")
    rows, truth, corpus = GENERATORS[workload](seed, n)
    if corpus is not None:
        write_pages(corpus, os.path.join(out, "corpus"))
    write_pages(rows, os.path.join(out, "input"))
    url, grp, twin = zip(*truth)
    pq.write_table(pa.table([pa.array(url, pa.string()), pa.array(grp, pa.int64()),
                             pa.array(twin, pa.bool_())], schema=TRUTH_SCHEMA),
                   os.path.join(out, "truth.parquet"))
    open(os.path.join(out, "_DONE"), "w").close()
    return out


if __name__ == "__main__":
    if len(sys.argv) != 5:
        sys.exit(__doc__)
    generate(sys.argv[1], int(sys.argv[2]), int(sys.argv[3]), sys.argv[4])
