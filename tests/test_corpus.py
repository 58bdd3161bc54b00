from dlkp_spark.analysis.analyzer import analyze, extract_text_py, tokenize_py, with_doc_ids
from dlkp_spark.corpus import generate_web_pages, wrap_html


def test_wrap_extract_byte_identity_unit():
    for text in ["hello world", "", "unicode ✓ ümlaut", "a" * 10000]:
        assert extract_text_py(wrap_html(text)) == text


def test_corpus_deterministic_across_partitioning(spark):
    a = generate_web_pages(spark, 200, seed=42, partitions=2).orderBy("url").collect()
    b = generate_web_pages(spark, 200, seed=42, partitions=7).orderBy("url").collect()
    assert a == b
    assert len(a) == 200
    assert len({r["url"] for r in a}) == 200  # urls unique


def test_per_url_byte_identity_invariant(spark):
    """BASELINE.json input_hint: extracted text byte-identical per url."""
    pages = generate_web_pages(spark, 300, seed=42)
    analyzed = analyze(pages, validate=True)  # raises on any mismatch
    rows = analyzed.select("url", "text", "tokens").collect()
    assert len(rows) == 300
    for r in rows[:20]:
        assert r["tokens"] == tokenize_py(r["text"])


def test_tokenizer_spec():
    assert tokenize_py("Hello, World! 123 foo-bar") == ["hello", "world", "123", "foo", "bar"]
    assert tokenize_py("") == []


def test_doc_ids_dense_and_deterministic(spark):
    pages = generate_web_pages(spark, 150, seed=42)
    docs = with_doc_ids(analyze(pages))
    ids = [r["doc_id"] for r in docs.orderBy("doc_id").collect()]
    assert ids == list(range(150))
    # rank of url: doc_id order == url order
    by_url = docs.orderBy("url").select("doc_id").collect()
    assert [r["doc_id"] for r in by_url] == list(range(150))


def test_doc_ids_scale_path_matches_window_path(spark):
    pages = analyze(generate_web_pages(spark, 180, seed=1))
    small = with_doc_ids(pages).select("url", "doc_id").orderBy("url").collect()
    scale = (with_doc_ids(pages, scale_threshold=10, n_range_parts=5)
             .select("url", "doc_id").orderBy("url").collect())
    assert small == scale


def test_doc_ids_distributed_join_matches_broadcast(spark, monkeypatch):
    """Past DOC_ID_BROADCAST_ROWS the scale path joins the (url, doc_id)
    map without a broadcast hint; the mapping must not change."""
    from dlkp_spark.analysis import analyzer

    pages = generate_web_pages(spark, 120, seed=3)

    def ids():
        df = with_doc_ids(pages, scale_threshold=10, n_range_parts=4)
        hints = df._jdf.queryExecution().analyzed().toString().count(
            "strategy=broadcast")
        return hints, sorted(df.select("url", "doc_id").collect())

    bc_hints, bc = ids()
    monkeypatch.setattr(analyzer, "DOC_ID_BROADCAST_ROWS", 0)
    dj_hints, dj = ids()
    assert dj_hints == bc_hints - 1  # only the offsets table stays hinted
    assert dj == bc
    assert [r["doc_id"] for r in dj] == list(range(120))


def test_cache_registry_bounded_and_releasable(spark):
    """The persist registry must stay bounded (oldest entries released
    past the cap) and release_cached must unpersist what remains."""
    from dlkp_spark import cache as c

    docs = spark.range(10)
    before = len(c._PERSISTED)
    saved_max = c._MAX_REGISTERED
    try:
        c._MAX_REGISTERED = 4
        c._PERSISTED.clear()
        frames = [c.persist(docs.selectExpr(f"id + {i} AS id")) for i in range(6)]
        assert len(c._PERSISTED) <= 5  # cap enforced (half dropped at 4)
        n = c.release_cached()
        assert n >= 1
        assert not c._PERSISTED
        # released frames still compute correctly (lazy recompute)
        assert frames[0].count() == 10
    finally:
        c._MAX_REGISTERED = saved_max
        c._PERSISTED.clear()
        _ = before


def test_extractor_adversarial_handwritten_pages():
    """The extractor is a general one, not an inverse of the renderer:
    handwritten pages exercise each rule independently."""
    cases = [
        # head (incl. title text) is dropped wholesale
        (b"<html><head><title>SKIP me</title></head><body>keep</body></html>",
         "keep"),
        # uppercase tags + attributes
        (b'<HTML><BODY><P CLASS="a">one</P><P>two</P></BODY></HTML>',
         "one two"),
        # script/style contents (raw text with < > and fake tags) dropped
        (b'<body>a<script>if(x<1){"</div>"}</script>b<style>p{c:"<">}</style>c</body>',
         "a b c"),
        # comments dropped, even when they wrap markup
        (b"<body>x<!-- <p>hidden</p> -->y</body>", "x y"),
        # boilerplate blocks excluded, including nested OTHER tags
        (b'<body><nav><a href="/">Home</a></nav>real<footer><b>T</b></footer></body>',
         "real"),
        (b"<body><header>H</header>mid<aside>ad</aside></body>", "mid"),
        # main scoping wins over body when present
        (b"<body>outside<main>inside only</main>also outside</body>",
         "inside only"),
        (b"<body>pre<article >scoped</article></body>", "scoped"),
        # entities: named, decimal, hex, nbsp-as-whitespace; unknown kept
        (b"<body>&amp; &lt;tag&gt; &#65; &#x42; a&nbsp;b &nosuch; end</body>",
         "& <tag> A B a b &nosuch; end"),
        # inline tags strip to whitespace; self-closing ok
        (b"<body>one <b>two</b> three<br/>four <img src='x'/> five</body>",
         "one two three four five"),
        # whitespace (newlines/tabs/runs) collapses to single spaces
        (b"<body>\n  a\t\tb \n c\n</body>", "a b c"),
        # escaped markup is TEXT (decode happens after tag strip)
        (b"<body>&lt;script&gt;not code&lt;/script&gt;</body>",
         "<script>not code</script>"),
        (b"", ""),
        (b"no tags at all", "no tags at all"),
    ]
    for page, want in cases:
        assert extract_text_py(page) == want, page


def test_renderer_emits_realistic_structure():
    """The generated html actually exercises the extractor: boilerplate,
    raw-text blocks, comments, inline markup, entities, main-less pages."""
    pages = [wrap_html(" ".join(f"tok{i}w{j}" for j in range(160)),
                       lang="en", key=i).decode() for i in range(40)]
    assert all("<nav" in p and "<footer>" in p and "<script" in p
               and "<style>" in p and "<head>" in p for p in pages)
    assert any("<!--" in p for p in pages)
    assert any('<b class="kw">' in p or "<em" in p or "<strong" in p
               for p in pages)
    assert any("&#" in p for p in pages)
    # key % 4 == 0 renders without <main> (body-fallback extraction path)
    assert any("<main" not in p for p in pages)
    assert any("<main" in p for p in pages)


def test_wrap_html_deterministic_and_key_varied():
    t = "alpha beta gamma " * 30 + "end"
    assert wrap_html(t, key=7) == wrap_html(t, key=7)
    assert wrap_html(t, key=7) != wrap_html(t, key=8)


def test_roundtrip_holds_for_markup_heavy_text():
    for t in ["x & y < z > w", 'quote " tok', "&amp; looks-escaped",
              "&#65; numeric-looking", "unicode ümlaut ✓"]:
        for k in range(8):
            assert extract_text_py(wrap_html(t, key=k)) == t
