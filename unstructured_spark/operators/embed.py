"""Embedding operators (reference ``embed/interfaces.py:10-39`` and the
provider modules under ``unstructured/embed/``; SURVEY §2.7).

The reference's ``BaseEmbeddingEncoder`` exposes
``embed_documents(elements)`` / ``embed_query(str)`` and mutates
``Text.embeddings``. Here embedding is a column transformation:
``mapInPandas`` with the iterator API so the encoder is constructed
ONCE per executor process (model-locality; SURVEY §4 "model
singletons"), batching text through the encoder and emitting an
``array<float>`` column.

Providers:
- :class:`HashingEncoder` — deterministic, dependency-free feature
  hashing (md5 token buckets, L2-normalized). This is the testable
  default; it is NOT a semantic model and says so.
- :class:`HuggingFaceEncoder` — real sentence-transformer, gated behind
  an import-try (the model library is not in this container).
- API providers (reference ``embed/*.py``): :class:`OpenAIEncoder`,
  :class:`VoyageAIEncoder`, :class:`MixedbreadAIEncoder` speak the
  shared OpenAI wire shape over an injectable transport;
  :class:`BedrockEncoder` / :class:`VertexAIEncoder` gate on their
  cloud-auth SDKs (boto3 / google-auth) and accept injected clients.
  ``get_encoder(provider, **config)`` is the name-keyed registry.
"""

from __future__ import annotations

import hashlib
import math
from typing import Callable, Iterator, Protocol

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


class EmbeddingEncoder(Protocol):
    dim: int

    def embed_documents(self, texts: list[str]) -> list[list[float]]: ...

    def embed_query(self, text: str) -> list[float]: ...


class HashingEncoder:
    """Deterministic feature-hash embedding (NOT semantic — a stable,
    dependency-free stand-in that exercises the full Spark plumbing:
    batching, schema, normalization)."""

    def __init__(self, dim: int = 64):
        self.dim = dim

    def embed_query(self, text: str) -> list[float]:
        vec = [0.0] * self.dim
        for tok in text.lower().split():
            h = hashlib.md5(tok.encode("utf-8")).digest()
            bucket = int.from_bytes(h[:4], "big") % self.dim
            sign = 1.0 if h[4] & 1 else -1.0
            vec[bucket] += sign
        norm = math.sqrt(sum(v * v for v in vec))
        return [v / norm for v in vec] if norm else vec

    def embed_documents(self, texts: list[str]) -> list[list[float]]:
        return [self.embed_query(t) for t in texts]


class HuggingFaceEncoder:
    """Local sentence-transformers model (reference
    embed/huggingface.py). Requires ``sentence_transformers`` on
    executors."""

    def __init__(self, model_name: str = "sentence-transformers/all-MiniLM-L6-v2"):
        try:
            from sentence_transformers import SentenceTransformer  # type: ignore
        except ImportError as exc:  # pragma: no cover - not in container
            raise NotImplementedError(
                "HuggingFaceEncoder requires the sentence-transformers "
                "package on executors; install it in the cluster image. "
                "The Spark plumbing (embed_elements) is model-agnostic."
            ) from exc
        self._model = SentenceTransformer(model_name)  # pragma: no cover
        self.dim = self._model.get_sentence_embedding_dimension()  # pragma: no cover

    def embed_documents(self, texts: list[str]) -> list[list[float]]:  # pragma: no cover
        return [list(map(float, v)) for v in self._model.encode(texts)]

    def embed_query(self, text: str) -> list[float]:  # pragma: no cover
        return self.embed_documents([text])[0]


# ---------------------------------------------------------------------------
# API provider adapters (reference embed/{openai,voyageai,mixedbreadai,
# bedrock,vertexai}.py). Each is an HTTP client per executor behind the
# same EmbeddingEncoder protocol; the transport is injectable so tests
# exercise the request/response shaping with zero network. Providers
# needing a cloud SDK for auth (bedrock: sigv4 via boto3, vertexai:
# OAuth via google-auth) gate on the import and accept an injected
# client instead.
# ---------------------------------------------------------------------------


def _http_json_transport(url: str, headers: dict[str, str], payload: dict) -> dict:
    """POST JSON → parsed JSON response (stdlib; the default transport)."""
    import json as _json
    import urllib.request

    req = urllib.request.Request(
        url,
        data=_json.dumps(payload).encode("utf-8"),
        headers={"Content-Type": "application/json", **headers},
        method="POST",
    )
    with urllib.request.urlopen(req, timeout=60.0) as resp:
        return _json.loads(resp.read().decode("utf-8"))


class _OpenAIShapedEncoder:
    """Shared implementation for the OpenAI-wire-shape providers
    (`POST /embeddings {"model", "input": [...]}` →
    `{"data": [{"index", "embedding"}]}`), which openai, voyageai and
    mixedbreadai all speak."""

    _endpoint: str
    _auth_scheme: str = "Bearer"

    def __init__(self, api_key: str, model_name: str, base_url: str | None = None,
                 batch_size: int = 96, transport=None):
        self._api_key = api_key
        self.model_name = model_name
        self._base = (base_url or self._endpoint).rstrip("/")
        self._batch = batch_size
        self._transport = transport or _http_json_transport
        self.dim: int | None = None  # discovered from the first response

    def _headers(self) -> dict[str, str]:
        return {"Authorization": f"{self._auth_scheme} {self._api_key}"}

    def embed_documents(self, texts: list[str]) -> list[list[float]]:
        out: list[list[float]] = []
        for i in range(0, len(texts), self._batch):
            payload = {"model": self.model_name, "input": texts[i : i + self._batch]}
            resp = self._transport(f"{self._base}/embeddings", self._headers(), payload)
            rows = sorted(resp["data"], key=lambda d: d.get("index", 0))
            out.extend([list(map(float, d["embedding"])) for d in rows])
        if out and self.dim is None:
            self.dim = len(out[0])
        return out

    def embed_query(self, text: str) -> list[float]:
        return self.embed_documents([text])[0]


class OpenAIEncoder(_OpenAIShapedEncoder):
    """reference embed/openai.py (model default text-embedding-ada-002)."""

    _endpoint = "https://api.openai.com/v1"

    def __init__(self, api_key: str, model_name: str = "text-embedding-ada-002", **kw):
        super().__init__(api_key, model_name, **kw)


class VoyageAIEncoder(_OpenAIShapedEncoder):
    """reference embed/voyageai.py."""

    _endpoint = "https://api.voyageai.com/v1"

    def __init__(self, api_key: str, model_name: str = "voyage-2", **kw):
        super().__init__(api_key, model_name, **kw)


class MixedbreadAIEncoder(_OpenAIShapedEncoder):
    """reference embed/mixedbreadai.py."""

    _endpoint = "https://api.mixedbread.ai/v1"

    def __init__(self, api_key: str,
                 model_name: str = "mixedbread-ai/mxbai-embed-large-v1", **kw):
        super().__init__(api_key, model_name, **kw)


class OctoAIEncoder(_OpenAIShapedEncoder):
    """reference embed/octoai.py (OctoAI serves the OpenAI embeddings
    wire shape at text.octoai.run; default model thenlper/gte-large)."""

    _endpoint = "https://text.octoai.run/v1"

    def __init__(self, api_key: str,
                 model_name: str = "thenlper/gte-large", **kw):
        super().__init__(api_key, model_name, **kw)


class BedrockEncoder:
    """reference embed/bedrock.py (Titan text embeddings). AWS sigv4
    auth needs boto3 — gated; tests inject a fake ``client`` exposing
    ``invoke_model(modelId=, body=) -> {"body": reader}``."""

    def __init__(self, region_name: str = "us-west-2",
                 model_id: str = "amazon.titan-embed-text-v1", client=None):
        self.model_id = model_id
        self.dim: int | None = None
        if client is not None:
            self._client = client
            return
        try:
            import boto3  # type: ignore
        except ImportError as exc:
            raise NotImplementedError(
                "BedrockEncoder requires boto3 on executors (AWS sigv4 "
                "auth); install it in the cluster image or inject a client."
            ) from exc
        self._client = boto3.client("bedrock-runtime", region_name=region_name)  # pragma: no cover

    def embed_documents(self, texts: list[str]) -> list[list[float]]:
        import json as _json

        out: list[list[float]] = []
        for t in texts:
            resp = self._client.invoke_model(
                modelId=self.model_id, body=_json.dumps({"inputText": t})
            )
            body = resp["body"]
            raw = body.read() if hasattr(body, "read") else body
            vec = _json.loads(raw)["embedding"]
            out.append(list(map(float, vec)))
        if out and self.dim is None:
            self.dim = len(out[0])
        return out

    def embed_query(self, text: str) -> list[float]:
        return self.embed_documents([text])[0]


class VertexAIEncoder:
    """reference embed/vertexai.py (textembedding-gecko predict API).
    OAuth needs google-auth — gated unless both ``token`` and
    ``transport`` are injected (tests)."""

    def __init__(self, project: str, location: str = "us-central1",
                 model_name: str = "textembedding-gecko@001",
                 token: str | None = None, transport=None, batch_size: int = 5):
        self.model_name = model_name
        self.dim: int | None = None
        self._batch = batch_size
        self._transport = transport or _http_json_transport
        if token is None:
            try:
                import google.auth  # type: ignore  # noqa: F401
            except ImportError as exc:
                raise NotImplementedError(
                    "VertexAIEncoder requires google-auth for OAuth tokens; "
                    "install it on executors or inject token= and transport=."
                ) from exc
        self._token = token
        self._url = (
            f"https://{location}-aiplatform.googleapis.com/v1/projects/{project}"
            f"/locations/{location}/publishers/google/models/{model_name}:predict"
        )

    def embed_documents(self, texts: list[str]) -> list[list[float]]:
        out: list[list[float]] = []
        headers = {"Authorization": f"Bearer {self._token}"}
        for i in range(0, len(texts), self._batch):
            payload = {"instances": [{"content": t} for t in texts[i : i + self._batch]]}
            resp = self._transport(self._url, headers, payload)
            out.extend(
                [list(map(float, p["embeddings"]["values"])) for p in resp["predictions"]]
            )
        if out and self.dim is None:
            self.dim = len(out[0])
        return out

    def embed_query(self, text: str) -> list[float]:
        return self.embed_documents([text])[0]


_PROVIDERS: dict[str, Callable[..., EmbeddingEncoder]] = {
    "hashing": HashingEncoder,
    "huggingface": HuggingFaceEncoder,
    "openai": OpenAIEncoder,
    "voyageai": VoyageAIEncoder,
    "mixedbreadai": MixedbreadAIEncoder,
    "octoai": OctoAIEncoder,
    "bedrock": BedrockEncoder,
    "vertexai": VertexAIEncoder,
}


def get_encoder(provider: str, **config) -> EmbeddingEncoder:
    """Provider registry keyed by name (mirrors the reference's
    per-module encoder classes under ``unstructured/embed/``)."""
    try:
        factory = _PROVIDERS[provider]
    except KeyError:
        raise ValueError(
            f"unknown embedding provider {provider!r}; "
            f"available: {sorted(_PROVIDERS)}"
        ) from None
    return factory(**config)


def embed_elements(
    df: DataFrame,
    encoder_factory: Callable[[], EmbeddingEncoder] = HashingEncoder,
    *,
    text_col: str = "text",
    out_col: str = "embeddings",
    batch_size: int = 256,
) -> DataFrame:
    """Add an ``array<float>`` embedding column.

    ``mapInPandas`` iterator form: the encoder is built once per python
    worker and reused across Arrow batches — the executor-singleton
    pattern the reference approximates with its lazy provider clients.
    """
    fields = [f for f in df.schema.fields if f.name != out_col]
    out_schema = T.StructType(
        fields + [T.StructField(out_col, T.ArrayType(T.FloatType()))]
    )
    in_cols = [f.name for f in fields]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        encoder = encoder_factory()  # once per worker process
        for pdf in batches:
            texts = pdf[text_col].fillna("").astype(str).tolist()
            vectors: list[list[float]] = []
            for i in range(0, len(texts), batch_size):
                vectors.extend(encoder.embed_documents(texts[i : i + batch_size]))
            out = pdf[in_cols].copy()
            out[out_col] = vectors
            yield out

    return df.select(*in_cols).mapInPandas(run, schema=out_schema)


def cosine_sim_expr(a, b):
    """JVM-side cosine over two array<float/double> columns
    (zip_with + aggregate; no UDF)."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    na = F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))
    nb = F.sqrt(F.aggregate(b, F.lit(0.0), lambda acc, v: acc + v * v))
    return F.when((na > 0) & (nb > 0), dot / (na * nb)).otherwise(F.lit(0.0))
