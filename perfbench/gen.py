"""Seeded input generator for the pipeline benchmark.

Everything is derived from one ``random.Random(seed)``, so the same seed
and parameters give byte-identical files: parquet shards for the web
corpus (which the traced run also lands as stream files) and a MediaWiki
XML dump. The corpus properties the pipeline's behaviour depends on are
explicit fields of ``CorpusParams``: size, length distribution, Zipf
vocabulary, exact and near duplicate fractions, the hot boilerplate
paragraph, cleaning noise, junk and n-gram spam, sources and languages.
The defaults are the benchmark's own corpora: ``CorpusParams()`` is the
``web_curation`` corpus and ``WikiParams()`` the ``wiki_reference`` dump.
"""

from __future__ import annotations

import bisect
import math
import os
import random
from dataclasses import dataclass
from statistics import NormalDist
from xml.sax.saxutils import escape

import pyarrow as pa
import pyarrow.parquet as pq

# Function words lead the Zipf ranking so the text has a natural-language
# shape (frequent short words, long tail of content words).
FUNCTION_WORDS = (
    "the of and to in a is that for it as was with be by on not he this are "
    "or his from at which but have an they you were her she there been one "
    "all we their has would when if so no will more can its also who into"
).split()
SYLLABLES = (
    "ka ri to mu sen la vor pe di nat shi gal ber mon tu re lo fi zan da ko "
    "mi ster ven pol ar ti nu go ras bel ex tor im qua den sol ra vi"
).split()
# accented words carry the mojibake noise (UTF-8 read as cp1252)
ACCENTED = ["café", "naïve", "résumé", "façade", "über", "señor", "déjà", "coöperate"]
HOT_PARAGRAPH = (
    "This article is part of our community archive and may be reused under "
    "the terms of the open content license. Readers who notice an error are "
    "invited to send a correction to the editorial desk, which reviews every "
    "submission within a few working days before publishing an update."
)
SPAM_PHRASES = ["buy cheap pills now", "best casino bonus today", "click the link below"]

DOC_SCHEMA = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("source", pa.string()),
        ("lang", pa.string()),
        ("text", pa.string()),
    ]
)


@dataclass(frozen=True)
class CorpusParams:
    docs: int = 200
    mean_words: int = 260          # median body length in words (lognormal)
    sigma_words: float = 0.45      # lognormal shape of the body length
    vocab: int = 6000              # Zipf vocabulary size (per language slice)
    zipf_s: float = 1.07
    exact_dup_frac: float = 0.06
    near_dup_frac: float = 0.06
    near_dup_edit: float = 0.02    # share of words replaced in a near dup
    hot_para_share: float = 0.10
    mojibake_rate: float = 0.10
    url_rate: float = 0.25
    email_rate: float = 0.10
    citation_rate: float = 0.25
    junk_frac: float = 0.04
    spam_frac: float = 0.04
    sources: int = 8
    langs: tuple[str, ...] = ("en", "en", "en", "de", "fr")
    shards: int = 8


@dataclass(frozen=True)
class WikiParams:
    corpus: CorpusParams = CorpusParams(docs=80, mean_words=300, sources=1, langs=("en",))
    redirect_frac: float = 0.03
    other_ns_frac: float = 0.05


def _make_vocab(rng: random.Random, n: int) -> list[str]:
    words: list[str] = list(FUNCTION_WORDS)
    seen = set(words)
    while len(words) < n:
        w = "".join(rng.choice(SYLLABLES) for _ in range(rng.randint(1, 4)))
        if len(w) >= 3 and w not in seen:
            seen.add(w)
            words.append(w)
    return words


class _Writer:
    """Draws documents for one corpus from a seeded stream."""

    def __init__(self, seed: int, p: CorpusParams):
        self.rng = random.Random(seed)
        self.p = p
        self.vocab = _make_vocab(self.rng, p.vocab)
        weights = [1.0 / (r + 1) ** p.zipf_s for r in range(p.vocab)]
        total = 0.0
        self.cum = []
        for w in weights:
            total += w
            self.cum.append(total)
        self.total = total
        self.n_fw = len(FUNCTION_WORDS)

    def _word(self, lang_shift: int) -> str:
        r = bisect.bisect_left(self.cum, self.rng.random() * self.total)
        r = min(r, self.p.vocab - 1)
        if r >= self.n_fw and lang_shift:
            # each language draws its content words from a shifted slice
            span = self.p.vocab - self.n_fw
            r = self.n_fw + (r - self.n_fw + lang_shift) % span
        return self.vocab[r]

    def _sentence(self, lang_shift: int) -> str:
        rng = self.rng
        words = [self._word(lang_shift) for _ in range(rng.randint(6, 18))]
        if rng.random() < 0.05:
            words[rng.randrange(len(words))] = rng.choice(ACCENTED)
        return " ".join(words).capitalize() + "."

    def body(self, lang_shift: int, target: int) -> list[str]:
        rng = self.rng
        paras, n = [], 0
        while n < target:
            sents = [self._sentence(lang_shift) for _ in range(rng.randint(2, 5))]
            n += sum(s.count(" ") + 1 for s in sents)
            paras.append(" ".join(sents))
        return paras

    def noise(self, text: str, kinds: set[str]) -> str:
        rng = self.rng
        if "mojibake" in kinds:
            for w in ACCENTED:
                text = text.replace(w, w.encode("utf-8").decode("cp1252", "replace"))
            text += " " + rng.choice(ACCENTED).encode("utf-8").decode("cp1252", "replace")
        if "url" in kinds:
            text += f" See https://www.site{rng.randint(1, 999)}.example.com/page/{rng.randint(1, 99999)} for more."
        if "email" in kinds:
            text += f" Contact editor{rng.randint(1, 999)}@mail{rng.randint(1, 99)}.example.org today."
        if "citation" in kinds:
            text += f" As reported earlier [{rng.randint(1, 40)}] and confirmed [citation needed]."
        return text

    def junk(self) -> str:
        rng = self.rng
        parts = [f"{rng.randint(0, 10**6)} {rng.choice('#$%&*+=@')}{rng.randint(0, 999)}" for _ in range(40)]
        return " | ".join(parts)

    def spam(self, lang_shift: int) -> str:
        rng = self.rng
        phrase = rng.choice(SPAM_PHRASES)
        lead = " ".join(self._sentence(lang_shift) for _ in range(2))
        return lead + "\n\n" + " ".join([phrase] * rng.randint(30, 60))

    def near(self, text: str) -> str:
        rng = self.rng
        words = text.split(" ")
        for _ in range(max(1, int(len(words) * self.p.near_dup_edit))):
            words[rng.randrange(len(words))] = self._word(0)
        return " ".join(words)


def _exact(rng: random.Random, n: int, share: float) -> list[bool]:
    """``round(n * share)`` True flags in seeded positions."""
    k = round(n * share)
    flags = [True] * k + [False] * (n - k)
    rng.shuffle(flags)
    return flags


def generate_docs(seed: int, p: CorpusParams) -> list[dict]:
    """The document list (doc_id, source, lang, text) for one seed.

    The parameters fix the corpus composition exactly: the number of
    duplicates, junk and spam docs, the per-source and per-language
    counts, the noise counts and the body-length quantiles. The seed
    chooses the words, which docs get which role, and their order, so
    two seeds give equally hard corpora with different content.
    """
    g = _Writer(seed, p)
    rng = g.rng
    n = p.docs
    counts = {
        "exact": round(n * p.exact_dup_frac),
        "near": round(n * p.near_dup_frac),
        "junk": round(n * p.junk_frac),
        "spam": round(n * p.spam_frac),
    }
    kinds = [k for k, c in counts.items() for _ in range(c)]
    kinds += ["body"] * (n - len(kinds))
    rng.shuffle(kinds)
    if kinds and kinds[0] != "body":
        # a duplicate needs an earlier original to copy
        j = kinds.index("body")
        kinds[0], kinds[j] = kinds[j], kinds[0]
    sources = [f"src{i % p.sources:02d}" for i in range(n)]
    rng.shuffle(sources)
    langs = [p.langs[i % len(p.langs)] for i in range(n)]
    rng.shuffle(langs)
    shifts = {lang: 0 if i == 0 else 997 * i for i, lang in enumerate(dict.fromkeys(p.langs))}
    nd = NormalDist()
    lengths = [
        max(30, int(math.exp(p.sigma_words * nd.inv_cdf((i + 0.5) / n)) * p.mean_words))
        for i in range(n)
    ]
    rng.shuffle(lengths)
    hot = _exact(rng, n, p.hot_para_share)
    noise = {k: _exact(rng, n, r) for k, r in (
        ("mojibake", p.mojibake_rate), ("url", p.url_rate),
        ("email", p.email_rate), ("citation", p.citation_rate),
    )}
    docs: list[dict] = []
    bodies: list[str] = []
    for i in range(n):
        kind, lang = kinds[i], langs[i]
        if kind == "exact":
            text = rng.choice(bodies)
        elif kind == "near":
            text = g.near(rng.choice(bodies))
        elif kind == "junk":
            text = g.junk()
        elif kind == "spam":
            text = g.spam(shifts[lang])
        else:
            paras = g.body(shifts[lang], lengths[i])
            if hot[i]:
                paras.insert(rng.randrange(len(paras) + 1), HOT_PARAGRAPH)
            text = g.noise("\n\n".join(paras), {k for k, f in noise.items() if f[i]})
            bodies.append(text)
        docs.append({"doc_id": 1 + i, "source": sources[i], "lang": lang, "text": text})
    return docs


def write_shards(docs: list[dict], out_dir: str, shards: int) -> list[str]:
    """Round-robin the docs into ``shards`` parquet files."""
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for s in range(shards):
        part = docs[s::shards]
        table = pa.Table.from_pylist(part, schema=DOC_SCHEMA)
        path = os.path.join(out_dir, f"part-{s:05d}.parquet")
        pq.write_table(table, path)
        paths.append(path)
    return paths


def _wikitext(rng: random.Random, text: str, title: str) -> str:
    paras = text.split("\n\n")
    out = [
        "{{Infobox topic | name = " + title + " | note = {{nowrap|{{small|"
        + str(rng.randint(1, 99)) + "}}}} }}"
    ]
    for i, para in enumerate(paras):
        words = para.split(" ")
        if len(words) > 6:
            j = rng.randrange(1, len(words) - 2)
            words[j] = f"[[{words[j]}|{words[j]}]]"
            words[j + 1] = f"'''{words[j + 1]}'''"
        para = " ".join(words)
        if rng.random() < 0.5:
            para += f"<ref>{{{{cite web|url=https://ref.example.org/{rng.randint(1, 9999)}|title=Source}}}}</ref>"
        if i and rng.random() < 0.3:
            out.append(f"== Section {i} ==")
        out.append(para)
    out.append(f"[[Category:Topic {rng.randint(1, 30)}]]")
    return "\n\n".join(out)


def generate_wiki(seed: int, p: WikiParams) -> tuple[str, list[dict]]:
    """(XML dump text, page records with page_id/ns/redirect/text)."""
    docs = generate_docs(seed, p.corpus)
    rng = random.Random(seed * 7919 + 17)
    n = len(docs)
    roles = ["redirect"] * round(n * p.redirect_frac) + ["other_ns"] * round(n * p.other_ns_frac)
    roles += ["main"] * (n - len(roles))
    rng.shuffle(roles)
    pages = []
    lines = [
        '<mediawiki xmlns="http://www.mediawiki.org/xml/export-0.10/" version="0.10" xml:lang="en">',
        "  <siteinfo><sitename>Benchwiki</sitename></siteinfo>",
    ]
    for d, role in zip(docs, roles):
        ns = 0
        redirect = None
        title = f"Page {d['doc_id']}"
        if role == "redirect":
            redirect = f"Page {rng.randint(1, len(docs))}"
            body = f"#REDIRECT [[{redirect}]]"
        elif role == "other_ns":
            ns = rng.choice([1, 2, 4, 14])
            title = f"Talk:Page {d['doc_id']}"
            body = _wikitext(rng, d["text"], title)
        else:
            body = _wikitext(rng, d["text"], title)
        pages.append({"page_id": d["doc_id"], "ns": ns, "redirect": redirect, "text": d["text"]})
        lines.append("  <page>")
        lines.append(f"    <title>{escape(title)}</title>")
        lines.append(f"    <ns>{ns}</ns>")
        lines.append(f"    <id>{d['doc_id']}</id>")
        if redirect is not None:
            lines.append(f'    <redirect title="{escape(redirect)}" />')
        lines.append("    <revision>")
        lines.append(f"      <id>{d['doc_id'] + 100000}</id>")
        lines.append(f'      <text xml:space="preserve">{escape(body)}</text>')
        lines.append("    </revision>")
        lines.append("  </page>")
    lines.append("</mediawiki>")
    return "\n".join(lines) + "\n", pages


def corpus_stats(docs: list[dict]) -> dict:
    text_bytes = sum(len(d["text"].encode("utf-8")) for d in docs)
    words = set()
    for d in docs:
        words.update(d["text"].split())
    return {
        "docs": len(docs),
        "mb": round(text_bytes / 1e6, 4),
        "text_bytes": text_bytes,
        "distinct_words": len(words),
    }

