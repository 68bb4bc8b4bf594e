"""Property-based invariants (hypothesis) over the pure dedup-key functions.

The frontier/seen key is the single most scale-critical invariant in the
engine: at 10^10 URLs a canonicalization instability (two spellings of one
request hashing differently, or one spelling hashing unstably) silently
re-crawls or silently drops. The example-based tests in test_canon.py pin
parity with the reference (tools.go:22-78); these pin the *algebraic*
properties that parity depends on, over generated inputs:

  * canonical_url is idempotent — canon(canon(u)) == canon(u);
  * canonical_url is invariant under query-parameter order;
  * canonical_request_bytes is invariant under header insertion order and
    header-value list order (the reference sorts both, tools.go:56-66);
  * request_hash(url, meta) degrades to url_hash(url) exactly when meta
    carries no request-shaping keys (h:/c:/body) — URL-only crawls must pay
    nothing and must collide with their seed-list twins.

All properties are pure Python — no SparkSession — so the module runs
in milliseconds per example and hypothesis can afford its default budget.
"""

from __future__ import annotations

import random
import string

from hypothesis import given, settings
from hypothesis import strategies as st

from goribot_spark.canon import (
    canonical_request_bytes,
    canonical_url,
    request_hash,
    request_md5,
    url_hash,
    xxh64,
)

# -- URL component strategies ------------------------------------------------
# Hosts/paths stay URL-shaped (the canonicalizer is not a parser fuzzer);
# query keys/values range over printable text INCLUDING the separator and
# escape characters themselves (&, =, %, +, space, ;) — the exact places
# where a quote/parse round-trip loses idempotence if it ever will.

_label = st.text(alphabet=string.ascii_lowercase + string.digits, min_size=1, max_size=8)
_host = st.builds(".".join, st.lists(_label, min_size=1, max_size=3))
_path_seg = st.text(
    alphabet=string.ascii_letters + string.digits + "-._~", min_size=0, max_size=8
)
_path = st.builds(lambda segs: "/" + "/".join(segs), st.lists(_path_seg, max_size=4))
_qtext = st.text(
    alphabet=string.ascii_letters + string.digits + " &=%+;:/@-._~",
    min_size=0,
    max_size=10,
)
_qkey = st.text(
    alphabet=string.ascii_letters + string.digits + " %+;-._~", min_size=1, max_size=8
)
_query = st.lists(st.tuples(_qkey, _qtext), max_size=5)


def _assemble(scheme, host, port, path, query, fragment):
    url = f"{scheme}://{host}"
    if port is not None:
        url += f":{port}"
    url += path
    if query:
        from urllib.parse import quote_plus

        url += "?" + "&".join(f"{quote_plus(k)}={quote_plus(v)}" for k, v in query)
    if fragment:
        url += "#" + fragment
    return url


_url = st.builds(
    _assemble,
    st.sampled_from(["http", "https"]),
    _host,
    st.one_of(st.none(), st.integers(min_value=1, max_value=65535)),
    _path,
    _query,
    st.one_of(st.none(), _label),
)


@settings(deadline=None)
@given(_url)
def test_canonical_url_idempotent(url):
    c = canonical_url(url)
    assert canonical_url(c) == c


@settings(deadline=None)
@given(
    st.sampled_from(["http", "https"]),
    _host,
    _path,
    _query,
    st.randoms(use_true_random=False),
)
def test_canonical_url_query_order_invariant(scheme, host, path, query, rnd):
    """Shuffling ?k=v parameter order never changes the canonical form
    (tools.go:35-49 sorts keys and values)."""
    a = _assemble(scheme, host, None, path, query, None)
    shuffled = list(query)
    rnd.shuffle(shuffled)
    b = _assemble(scheme, host, None, path, shuffled, None)
    assert canonical_url(a) == canonical_url(b)


@settings(deadline=None)
@given(_url)
def test_fragment_never_in_key(url):
    """The canonical form (and so the dedup key) drops #fragments — the
    reference hashes url.Query()/path parts only (tools.go:24-50)."""
    assert "#" not in canonical_url(url)


_hname = st.text(alphabet=string.ascii_letters + "-", min_size=1, max_size=10)
_hval = st.text(
    alphabet=string.ascii_letters + string.digits + " ;,=/-._", min_size=0, max_size=12
)
_headers = st.dictionaries(_hname, st.lists(_hval, min_size=1, max_size=3), max_size=4)
_cookies = st.lists(st.tuples(_label, _hval), max_size=4)


@settings(deadline=None)
@given(_url, _headers, _cookies, st.binary(max_size=32), st.randoms(use_true_random=False))
def test_request_identity_order_invariant(url, headers, cookies, body, rnd):
    """Header insertion order and header-value list order never change the
    canonical request bytes or the MD5 (tools.go:56-66 sorts both). Cookie
    ORDER is part of the identity only through its sorted form upstream
    (canon.canonical_request_str sorts c: keys), so here cookies pass
    through unshuffled while headers are permuted."""
    ref_bytes = canonical_request_bytes(url, headers, cookies, body)
    ref_md5 = request_md5(url, headers, cookies, body)
    items = list(headers.items())
    rnd.shuffle(items)
    permuted = {k: list(reversed(v)) if rnd.random() < 0.5 else list(v) for k, v in items}
    for v in permuted.values():
        rnd.shuffle(v)
    assert canonical_request_bytes(url, permuted, cookies, body) == ref_bytes
    assert request_md5(url, permuted, cookies, body) == ref_md5


@settings(deadline=None)
@given(
    _url,
    st.dictionaries(
        st.text(alphabet=string.ascii_lowercase + "_", min_size=1, max_size=8),
        st.one_of(st.none(), _hval),
        max_size=4,
    ),
)
def test_request_hash_degrades_to_url_hash(url, meta):
    """Meta without h:/c:/body keys must key identically to the bare URL —
    seed-list rows and meta-decorated rows of the same GET collide, and a
    crawl that never shapes requests pays zero extra key entropy."""
    shaping = any(
        k.startswith(("h:", "c:")) and v is not None for k, v in meta.items()
    ) or bool(meta.get("body"))
    if not shaping:
        assert request_hash(url, meta) == url_hash(url)


@settings(deadline=None)
@given(st.binary(max_size=128))
def test_xxh64_matches_reference_vectors_shape(data):
    """xxh64 returns a signed 64-bit value and is deterministic."""
    h1, h2 = xxh64(data), xxh64(data)
    assert h1 == h2
    assert -(1 << 63) <= h1 < (1 << 63)

