"""HttpEmbedder: reference embedding-sidecar protocol
(engine/services/embedding_service.cpp:47-214) — provider key headers,
retry/backoff, and the Arrow-batched Spark path against a real local
HTTP server."""

from __future__ import annotations

import json
import threading

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st

from vectordb_spark.embedding import (
    EMBED_DOCS_RETRY,
    EMBED_QUERY_RETRY,
    HttpEmbedder,
    MockEmbedder,
)
from vectordb_spark.schema import VectorDBError


class FakeTransport:
    """Scripted transport: pops (status, body) responses, records calls."""

    def __init__(self, responses):
        self.responses = list(responses)
        self.calls = []

    def __call__(self, url, method, body, headers):
        self.calls.append((url, method, body, dict(headers)))
        if not self.responses:
            raise ConnectionError("no response scripted")
        r = self.responses.pop(0)
        if isinstance(r, Exception):
            raise r
        return r


def _ok_body(vectors):
    return json.dumps({"statusCode": 200, "result": vectors}).encode()


def test_provider_key_header_injected():
    tr = FakeTransport([(200, _ok_body([[1.0, 2.0]]))])
    e = HttpEmbedder(
        "http://sidecar:8888",
        "openai/text-embedding-3-small",
        2,
        api_keys={"X-OpenAI-API-Key": "sk-test"},
        transport=tr,
    )
    assert e.embed_batch(["hello"]) == [[1.0, 2.0]]
    url, method, body, headers = tr.calls[0]
    assert url == "http://sidecar:8888/v1/embeddings" and method == "POST"
    assert headers["X-OpenAI-API-Key"] == "sk-test"
    payload = json.loads(body)
    assert payload == {
        "model": "openai/text-embedding-3-small",
        "documents": ["hello"],
        "dimensions": 0,
    }


@pytest.mark.parametrize(
    "model,err",
    [
        ("openai/x", "Missing OpenAI API key."),
        ("jinaai/x", "Missing JinaAI API key."),
        ("voyageai/x", "Missing VoyageAI API key."),
        ("mixedbreadai/x", "Missing mixedbread ai API key."),
        ("nomicai/x", "Missing Nomic API key."),
        ("mistralai/x", "Missing MistralAI API key."),
    ],
)
def test_missing_provider_key_is_invalid_payload(model, err):
    tr = FakeTransport([])
    e = HttpEmbedder("http://s", model, 2, transport=tr)
    with pytest.raises(VectorDBError) as ei:
        e.embed_batch(["x"])
    assert ei.value.code == "INVALID_PAYLOAD" and err in str(ei.value)
    assert tr.calls == []  # rejected before any I/O, as in the reference


def test_unprefixed_model_needs_no_key():
    tr = FakeTransport([(200, _ok_body([[0.5]]))])
    e = HttpEmbedder("http://s", "local-model", 1, transport=tr)
    assert e.embed_batch(["x"]) == [[0.5]]


def test_retry_with_exponential_backoff():
    # two transport failures, then success: delays are 1*2^1, 1*2^2
    tr = FakeTransport(
        [ConnectionError("down"), (500, b"oops"), (200, _ok_body([[1.0]]))]
    )
    delays = []
    e = HttpEmbedder("http://s", "m", 1, transport=tr, sleep=delays.append)
    assert e.embed_batch(["x"]) == [[1.0]]
    assert delays == [2, 4]
    assert len(tr.calls) == EMBED_DOCS_RETRY


def test_docs_retry_exhausted_raises_infra_error():
    tr = FakeTransport([ConnectionError("down")] * EMBED_DOCS_RETRY)
    e = HttpEmbedder("http://s", "m", 1, transport=tr, sleep=lambda s: None)
    with pytest.raises(VectorDBError) as ei:
        e.embed_batch(["x"])
    assert ei.value.code == "INFRA_UNEXPECTED_ERROR"
    assert len(tr.calls) == EMBED_DOCS_RETRY


def test_query_uses_fewer_retries():
    tr = FakeTransport([ConnectionError("down")] * EMBED_QUERY_RETRY)
    e = HttpEmbedder("http://s", "m", 1, transport=tr, sleep=lambda s: None)
    with pytest.raises(VectorDBError):
        e.embed_query("q")
    assert len(tr.calls) == EMBED_QUERY_RETRY


def test_batch_length_mismatch_retries_then_fails():
    tr = FakeTransport([(200, _ok_body([[1.0]]))] * EMBED_DOCS_RETRY)
    e = HttpEmbedder("http://s", "m", 1, transport=tr, sleep=lambda s: None)
    with pytest.raises(VectorDBError) as ei:
        e.embed_batch(["a", "b"])
    assert ei.value.code == "INFRA_UNEXPECTED_ERROR"


def test_supported_models_listing():
    models = [{"model": "m1", "dim": 16, "dense": True, "dimensionReduction": False}]
    tr = FakeTransport([(200, json.dumps({"result": models}).encode())])
    e = HttpEmbedder("http://s", "m", 16, transport=tr)
    assert e.supported_models() == models
    assert tr.calls[0][1] == "GET"


# ---------------------------------------------------------------- e2e


@pytest.fixture(scope="module")
def sidecar():
    """Real HTTP sidecar on localhost implementing the reference wire
    protocol, backed by the deterministic MockEmbedder."""
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *a):
            pass

        def do_POST(self):
            if self.path != "/v1/embeddings":
                self.send_error(404)
                return
            n = int(self.headers["Content-Length"])
            req = json.loads(self.rfile.read(n))
            # model name "mock-N" selects the embedding dimension
            dim = int(req["model"].rsplit("-", 1)[1])
            vecs = MockEmbedder(dimension=dim).embed_batch(req["documents"])
            body = json.dumps({"statusCode": 200, "result": vecs}).encode()
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

    srv = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_address[1]}"
    srv.shutdown()


def test_http_embedder_end_to_end_spark(spark, sidecar):
    # the default urllib transport, pickled into the pandas UDF, must
    # produce exactly what the in-process MockEmbedder produces
    from vectordb_spark.embedding import embed_column

    e = HttpEmbedder(sidecar, "mock-8", 8)
    texts = ["alpha", "beta", "gamma delta", ""]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "id int, t string")
    got = {
        r.id: list(r.emb)
        for r in df.select("id", embed_column(e, "t").alias("emb")).collect()
    }
    want = MockEmbedder(dimension=8).embed_batch(texts)
    for i, w in enumerate(want):
        assert got[i] == pytest.approx(w, abs=0)


def test_http_embedder_table_auto_embed(spark, tmp_path, sidecar):
    # E1/E2 through the Table API: auto-embed on insert + search by
    # content, with the HTTP sidecar as the embedding provider
    from vectordb_spark.catalog import Warehouse

    e = HttpEmbedder(sidecar, "mock-16", 16)
    wh = Warehouse(spark, str(tmp_path / "wh"))
    t = wh.load_db("httpdb").create_table(
        {
            "name": "docs",
            "fields": [
                {"name": "ID", "dataType": "INT", "primaryKey": True},
                {"name": "Doc", "dataType": "STRING"},
            ],
            "indices": [{"name": "Emb", "field": "Doc", "dimensions": 16}],
        },
        embedder=e,
    )
    t.insert(
        [
            {"ID": 1, "Doc": "the quick brown fox"},
            {"ID": 2, "Doc": "jumped over the lazy dog"},
            {"ID": 3, "Doc": "the quick brown fox"},
        ]
    )
    out = t.query(query_text="the quick brown fox", limit=2)
    ids = [r["ID"] for r in out["result"]]
    assert set(ids) == {1, 3}  # exact text match embeds identically


# ---------------------------------------------------------------- SqlMockEmbedder


class TestSqlMockEmbedderTriParity:
    """The SQL-expressible embedder must produce BIT-IDENTICAL vectors
    through all three implementations — Python mirror, Spark Column
    expression, DuckDB SQL — because the driver's correctness gate
    hashes the Spark result against the DuckDB oracle
    (queries/fusion.py::semantic_text_search)."""

    TEXTS = [
        "the fast key order sort table scan",
        "The QUICK brown fox; jumps — over 42 lazy dogs!",
        "",            # empty → '^$', no trigrams → zero vector
        "ab",          # cleaned len 2+2 sentinels → 2 trigrams
        "aaaa aaaa aaaa",
        "ünïcödé döcs strip to ascii残",  # non-ascii stripped by the regex
    ]

    def test_python_vs_spark(self, spark):
        from vectordb_spark.embedding import SqlMockEmbedder

        e = SqlMockEmbedder(dimension=16)
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(self.TEXTS)], "id INT, text STRING"
        )
        got = {
            r.id: list(r.v)
            for r in e.embed_df(df, "text", out="v").select("id", "v").collect()
        }
        for i, t in enumerate(self.TEXTS):
            assert got[i] == [int(x) for x in e._one(t)], (i, t)

    def test_python_vs_duckdb(self):
        import duckdb

        from vectordb_spark.embedding import SqlMockEmbedder

        e = SqlMockEmbedder(dimension=16)
        con = duckdb.connect()
        con.execute("CREATE TABLE tx(id INT, text VARCHAR)")
        con.executemany(
            "INSERT INTO tx VALUES (?, ?)", list(enumerate(self.TEXTS))
        )
        rows = con.execute(
            f"SELECT id, {e.duck_expr('text')} AS v FROM tx ORDER BY id"
        ).fetchall()
        for i, v in rows:
            assert list(v) == [int(x) for x in e._one(self.TEXTS[i])], i

    def test_vectors_discriminate(self):
        from vectordb_spark.embedding import SqlMockEmbedder

        e = SqlMockEmbedder(dimension=16)
        a = e._one("the fast key order sort")
        b = e._one("completely different words entirely")
        assert a != b
        assert e._one("") == [0.0] * 16

    def test_table_auto_embed_with_sql_embedder(self, spark, tmp_path):
        # E1/E2 through the Table API with the ORACLE-CHECKABLE embedder:
        # the same SqlMockEmbedder that backs the semantic_text_search
        # gate drives auto-embed-on-insert + search-by-content
        from vectordb_spark.catalog import Warehouse
        from vectordb_spark.embedding import SqlMockEmbedder

        e = SqlMockEmbedder(dimension=16)
        wh = Warehouse(spark, str(tmp_path / "wh_sql"))
        t = wh.load_db("sqldb").create_table(
            {
                "name": "docs",
                "fields": [
                    {"name": "ID", "dataType": "INT", "primaryKey": True},
                    {"name": "Doc", "dataType": "STRING"},
                ],
                "indices": [{"name": "Emb", "field": "Doc", "dimensions": 16}],
            },
            embedder=e,
        )
        t.insert(
            [
                {"ID": 1, "Doc": "the quick brown fox"},
                {"ID": 2, "Doc": "jumped over the lazy dog"},
                {"ID": 3, "Doc": "the quick brown fox"},
            ]
        )
        out = t.query(query_text="the quick brown fox", limit=2)
        ids = [r["ID"] for r in out["result"]]
        assert set(ids) == {1, 3}  # exact text match embeds identically


class TestEmbedDotsArrowParity:
    """The Arrow-batch kernel (embed_dots_df, r13) must produce the
    exact aa / per-query ab the interpreted HOF-fold path produced —
    including NULL text (NULL aa/ab, like aggregate over a NULL array),
    empty text (zero vector → aa=0), non-ASCII (stripped by the shared
    JVM normalize), and multi-query dot batches."""

    TEXTS = TestSqlMockEmbedderTriParity.TEXTS + [None, "   ", "x"]

    def test_kernel_vs_hof_folds(self, spark):
        from pyspark.sql import functions as F

        from vectordb_spark.embedding import SqlMockEmbedder

        e = SqlMockEmbedder(dimension=16)
        qvs = [
            [int(x) for x in e._one("fast key order sort")],
            [int(x) for x in e._one("stream batch window merge")],
        ]
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(self.TEXTS)], "id INT, text STRING"
        ).repartition(3)  # exercise >1 Arrow batch boundary handling
        got = {
            r.id: (r.aa, r.ab0, r.ab1)
            for r in e.embed_dots_df(
                df, "text", qvs, keep=("id",)
            ).collect()
        }
        qarrs = [
            "array(" + ", ".join(f"CAST({x} AS BIGINT)" for x in qv) + ")"
            for qv in qvs
        ]
        want = {
            r.id: (r.aa, r.ab0, r.ab1)
            for r in e.embed_df(df, "text", out="v")
            .select(
                "id",
                F.expr(
                    "aggregate(v, CAST(0 AS BIGINT), (acc, x) -> acc + x*x)"
                ).alias("aa"),
                *[
                    F.expr(
                        f"aggregate(zip_with(v, {qa}, (x, y) -> x*y), "
                        "CAST(0 AS BIGINT), (acc, x) -> acc + x)"
                    ).alias(f"ab{i}")
                    for i, qa in enumerate(qarrs)
                ],
            )
            .collect()
        }
        assert got == want
        # NULL text → zero vector (the HOF chain's CASE guard routes a
        # NULL code array to the empty-hashes branch), NOT NULL aa/ab
        assert got[len(self.TEXTS) - 3] == (0, 0, 0)

    @settings(max_examples=3, derandomize=True, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    @given(texts=st.lists(
        st.text(
            # the whole Unicode range, astral planes included: only the
            # JVM normalize decides which characters survive as ASCII
            # (lower() maps some non-ASCII letters, e.g. U+212A KELVIN
            # SIGN and U+0130, to ASCII ones)
            alphabet=st.one_of(
                st.characters(codec="utf-8"),
                st.sampled_from("Kİſß\U0001f600Aa1 ^$"),
            ),
            max_size=24,
        ),
        min_size=1, max_size=64,
    ))
    def test_kernel_vs_hof_on_unicode(self, spark, texts):
        """The kernel reads the normalized text's UTF-8 BYTES as code
        points; the HOF path reads ``ascii()`` of each character. They
        agree only while the shared normalize leaves pure ASCII, which
        this fuzz holds them to."""
        from pyspark.sql import functions as F

        from vectordb_spark.embedding import SqlMockEmbedder

        e = SqlMockEmbedder(dimension=16)
        qv = [int(x) for x in e._one("fast key order sort")]
        df = spark.createDataFrame(list(enumerate(texts)), "id INT, text STRING")
        got = {
            r.id: (r.aa, r.ab0)
            for r in e.embed_dots_df(df, "text", [qv], keep=("id",)).collect()
        }
        qa = "array(" + ", ".join(f"CAST({x} AS BIGINT)" for x in qv) + ")"
        want = {
            r.id: (r.aa, r.ab0)
            for r in e.embed_df(df, "text", out="v").select(
                "id",
                F.expr("aggregate(v, CAST(0 AS BIGINT), (acc, x) -> acc + x*x)").alias("aa"),
                F.expr(
                    f"aggregate(zip_with(v, {qa}, (x, y) -> x*y), "
                    "CAST(0 AS BIGINT), (acc, x) -> acc + x)"
                ).alias("ab0"),
            ).collect()
        }
        assert got == want
