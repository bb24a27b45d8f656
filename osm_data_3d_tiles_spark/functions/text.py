"""Web-text kernels for the Common-Crawl-style pages table.

All kernels operate on pandas Series / numpy arrays so they run Arrow-batched inside
`pandas_udf` / `mapInPandas` stages (never per-row Python over Spark rows).

The page schema comes from BASELINE.json's input hint:
(url string, warc_ts timestamp, html binary, text string, lang string).
The per-row invariant is byte-identical extracted text per url: `extract_text(html)`
must reproduce the `text` column exactly.
"""

from __future__ import annotations

import re
import zlib

import numpy as np
import pandas as pd

# The geotag contract, shared by the Python reference below and the JVM parse
# in plans/pipeline.py: ASCII character classes (`\s` is [ \t\n\x0b\f\r], `\d`
# is [0-9]), as in Java's default regex flags, so NBSP or non-ASCII digits
# never form a tag on either side.
_GEO_NUM = r"-?\d+(?:\.\d+)?"
_GEO_PREFIX = r'<meta\s+name="geo\.position"\s+content="'
GEO_META_RE = re.compile(_GEO_PREFIX + rf'({_GEO_NUM});({_GEO_NUM})"', re.ASCII)
# the same match with one group, "{lat};{lon}": one regex pass in the JVM
GEO_META_JVM = _GEO_PREFIX + rf'({_GEO_NUM};{_GEO_NUM})"'
P_TAG_RE = re.compile(r"<p>(.*?)</p>", re.DOTALL)
TAG_RE = re.compile(r"<[^>]+>")

# BPE-ish word/token splitter: words, numbers, or single non-space symbols.
TOKEN_RE = re.compile(r"[A-Za-z]+|\d+|[^\sA-Za-z\d]")

STOPWORDS = {
    "en": {"the", "and", "of", "to", "in", "is", "that", "for", "with", "was", "on", "it"},
    "fr": {"le", "la", "les", "de", "des", "et", "est", "que", "pour", "dans", "une", "un"},
    "de": {"der", "die", "das", "und", "ist", "von", "mit", "für", "auf", "ein", "eine", "zu"},
    "es": {"el", "la", "los", "de", "y", "es", "que", "para", "con", "una", "un", "en"},
}
LANGS = ("en", "fr", "de", "es")


def decode_html(html: pd.Series, errors: str = "strict") -> pd.Series:
    """bytes → str (utf-8, strict by default: fixture html is always valid utf-8)."""
    return html.map(lambda b: b.decode("utf-8", errors))


def extract_text(html: pd.Series) -> pd.Series:
    """Deterministic main-text extraction: concatenation of <p> bodies, tags
    stripped, joined by '\\n'. This is the engine's text-extraction contract — the
    fixture generator builds html so that extract_text(html) == text byte-for-byte
    (input-hint invariant)."""
    decoded = decode_html(html)

    def _one(s: str) -> str:
        parts = P_TAG_RE.findall(s)
        return "\n".join(TAG_RE.sub("", p) for p in parts)

    return decoded.map(_one)


def extract_geotag(html: pd.Series) -> pd.DataFrame:
    """Parse <meta name="geo.position" content="{lat};{lon}"> → (lat, lon) doubles,
    NaN when absent; the first tag wins. Vectorized via pandas str.extract.

    Invalid UTF-8 decodes to U+FFFD, as Spark's binary→string cast does, so a
    page with a bad byte elsewhere still yields its tag. Numbers parse with
    `float` (correctly rounded, keeps -0.0), as Java's `Double.parseDouble`
    does; `pd.to_numeric` rounds long mantissas differently."""
    ex = decode_html(html, "replace").str.extract(GEO_META_RE, expand=True)
    return pd.DataFrame(
        {"lat": ex[0].astype(np.float64), "lon": ex[1].astype(np.float64)}
    )


def tokenize(text: pd.Series) -> pd.Series:
    return text.map(lambda s: TOKEN_RE.findall(s))


def token_count(text: pd.Series) -> pd.Series:
    return text.map(lambda s: len(TOKEN_RE.findall(s)))


def lang_id(text: pd.Series) -> pd.Series:
    """n-gram/stopword-vote language id over {en, fr, de, es}; ties resolved in
    LANGS order; empty text → 'und'."""

    def _one(s: str) -> str:
        words = set(w.lower() for w in TOKEN_RE.findall(s))
        best_lang, best = "und", 0
        for lang in LANGS:
            score = len(words & STOPWORDS[lang])
            if score > best:
                best_lang, best = lang, score
        return best_lang

    return text.map(_one)


def quality_score(text: pd.Series) -> pd.DataFrame:
    """Heuristic document-quality features: length, token count, mean word length,
    stopword ratio, punctuation ratio, uppercase ratio."""
    n_chars = text.str.len().astype("int64")
    toks = text.map(lambda s: TOKEN_RE.findall(s))
    n_tokens = toks.map(len).astype("int64")
    n_alpha = toks.map(lambda ts: sum(1 for t in ts if t.isalpha()))
    n_punct = toks.map(lambda ts: sum(1 for t in ts if not t.isalnum()))
    all_stops = set().union(*STOPWORDS.values())
    n_stop = toks.map(lambda ts: sum(1 for t in ts if t.lower() in all_stops))
    mean_word_len = toks.map(lambda ts: float(np.mean([len(t) for t in ts])) if ts else 0.0)
    denom = n_tokens.replace(0, 1)
    return pd.DataFrame(
        {
            "n_chars": n_chars,
            "n_tokens": n_tokens,
            "stopword_ratio": n_stop / denom,
            "punct_ratio": n_punct / denom,
            "alpha_ratio": n_alpha / denom,
            "mean_word_len": mean_word_len,
        }
    )


def rolling_fingerprint(text: pd.Series, window: int = 8) -> pd.Series:
    """Document fingerprint: min of rolling polynomial hashes over byte windows
    (winnowing-style), in uint64 wraparound arithmetic (deterministic on every
    platform); short docs fall back to crc32. Fully vectorized in numpy."""
    base = np.uint64(257)

    def _one(s: str) -> int:
        b = s.encode("utf-8")
        if len(b) < window:
            return zlib.crc32(b)
        arr = np.frombuffer(b, dtype=np.uint8).astype(np.uint64)
        n = len(arr) - window + 1
        with np.errstate(over="ignore"):
            # h[i] = sum(arr[i+j] * base^(window-1-j)) (mod 2^64), vectorized as a
            # strided matmul-free accumulation
            h = np.zeros(n, dtype=np.uint64)
            for j in range(window):
                h = h * base + arr[j : j + n]
        return int(np.int64(h.min().view(np.int64)))

    return text.map(_one)


# ---------------------------------------------------------------------------
# Near-dup machinery: shingles → MinHash / SimHash
# ---------------------------------------------------------------------------

_MERSENNE = (1 << 61) - 1


def _hash64(tokens: list[str]) -> np.ndarray:
    """Stable 64-bit hashes of strings (FNV-1a), vectorizable and platform-stable."""
    out = np.empty(len(tokens), dtype=np.uint64)
    for i, t in enumerate(tokens):
        h = np.uint64(0xCBF29CE484222325)
        for byte in t.encode("utf-8"):
            h ^= np.uint64(byte)
            h *= np.uint64(0x100000001B3)
        out[i] = h
    return out


def shingles(text: str, k: int = 3) -> list[str]:
    """k-word shingles over lowercased word tokens."""
    words = [w.lower() for w in TOKEN_RE.findall(text) if w.isalnum()]
    if len(words) < k:
        return [" ".join(words)] if words else []
    return [" ".join(words[i : i + k]) for i in range(len(words) - k + 1)]


_MIX_MUL = np.uint64(0x9E3779B97F4A7C15)  # golden-ratio odd constant


def _perm_seeds(num_perm: int, seed: int) -> np.ndarray:
    rng = np.random.RandomState(seed)
    return rng.randint(1, 1 << 62, size=num_perm, dtype=np.int64).astype(np.uint64) | np.uint64(1)


def minhash_signature(text: str, num_perm: int = 64, k: int = 3, seed: int = 42) -> np.ndarray:
    """MinHash signature over FNV shingle hashes using num_perm xorshift-multiply
    permutations h_i(x) = mix((x ^ s_i) · M) in uint64 wraparound arithmetic —
    fully vectorized as one (num_perm, n_shingles) numpy broadcast (no Python-int
    modular loop; wraparound multiply is a bijection so each h_i permutes u64)."""
    sh = shingles(text, k)
    if not sh:
        return np.zeros(num_perm, dtype=np.int64)
    base = _hash64(sh)  # (n,)
    seeds = _perm_seeds(num_perm, seed)  # (p,)
    with np.errstate(over="ignore"):
        h = (base[None, :] ^ seeds[:, None]) * _MIX_MUL
        h ^= h >> np.uint64(33)
        h *= np.uint64(0xFF51AFD7ED558CCD)
        h ^= h >> np.uint64(33)
    return h.min(axis=1).view(np.int64)


def minhash_bands(sig: np.ndarray, bands: int = 16) -> list[int]:
    """LSH banding: split the signature into `bands` rows-per-band groups and hash
    each band (band index mixed in) for bucket joining."""
    rows = len(sig) // bands
    out = []
    for b in range(bands):
        h = np.uint64(0xCBF29CE484222325) ^ np.uint64(b + 1)
        for v in sig[b * rows : (b + 1) * rows]:
            h ^= np.uint64(np.int64(v).view(np.uint64))
            h *= np.uint64(0x100000001B3)
        out.append(int(np.int64(h.view(np.int64))))
    return out


def simhash(text: str, k: int = 3) -> int:
    """64-bit SimHash over shingle FNV hashes (unweighted)."""
    sh = shingles(text, k)
    if not sh:
        return 0
    hs = _hash64(sh)
    bits = ((hs[:, None] >> np.arange(64, dtype=np.uint64)[None, :]) & np.uint64(1)).astype(np.int64)
    votes = bits.sum(axis=0) * 2 - len(hs)
    out = np.uint64(0)
    for i in range(64):
        if votes[i] > 0:
            out |= np.uint64(1) << np.uint64(i)
    return int(np.int64(out.view(np.int64)))


def hamming64(a: int, b: int) -> int:
    return bin((a ^ b) & ((1 << 64) - 1)).count("1")


def ngram_jaccard(a: str, b: str, k: int = 3) -> float:
    sa, sb = set(shingles(a, k)), set(shingles(b, k))
    if not sa and not sb:
        return 1.0
    if not sa or not sb:
        return 0.0
    return len(sa & sb) / len(sa | sb)
