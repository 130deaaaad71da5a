"""``pages_agent`` and ``service_http``: real Parquet pages through the
in-process agent, or through the HTTP service in its own process.

Both are a closed loop with one client: each page is protected, then
unprotected, and the next call starts only when the previous one
returned. A run makes whole passes over all pages, so every run attempts
the same operations in the same proportions.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import numpy as np

from common import Reference, Tracer, cpu_seconds, median, peak_rss_mb, percentile, self_times
import checks
import inputs

HERE = os.path.dirname(os.path.abspath(__file__))
ENCRYPTOR = "keystream_xor"
APP_CONTEXT = json.dumps({"user_id": "perfbench"})
CLIENT_ID, API_KEY = "perfbench", "perfbench-api-key"
#: a reference tick after this many pages, so the reference interleaves
#: with the operations
REF_EVERY = 11
#: a run makes at least this many passes, so the p90 of 55 pages has more
#: than ten samples beyond it even when a pass is slow (over HTTP a pass
#: takes about 5 s, and a 10 s run would otherwise make two)
MIN_PASSES = 4

#: core layer spans: (span name, per-layer metric)
CORE_LAYERS = {
    "compression.decompress": "compression.decompress_ms",
    "compression.compress": "compression.compress_ms",
    "pagecodec.split": "pagecodec.split_ms",
    "pagecodec.reinterpret": "pagecodec.reinterpret_ms",
    "pagecodec.to_bytes": "pagecodec.to_bytes_ms",
    "pagecodec.join": "pagecodec.join_ms",
    "keystream.elements": "keystream.elements_ms",
    "keystream.block": "keystream.block_ms",
    "wire.serialize": "wire.serialize_ms",
    "wire.parse": "wire.parse_ms",
}


def key_id(page) -> str:
    return f"key.{page.file}.{page.column}"


def patch_page_layers(tracer: Tracer) -> None:
    """Wrap the calls ``PageProtector`` makes into each core layer, as
    they are bound in ``core/pagecodec``."""
    from databatchprotectionservice_spark.core import compression, pagecodec

    tracer.patch(compression, "decompress", "compression.decompress")
    tracer.patch(compression, "compress", "compression.compress")
    tracer.patch(pagecodec, "decompress_and_split", "pagecodec.split")
    tracer.patch(pagecodec, "reinterpret_value_bytes", "pagecodec.reinterpret")
    tracer.patch(pagecodec, "value_buffer_to_bytes", "pagecodec.to_bytes")
    tracer.patch(pagecodec, "compress_and_join", "pagecodec.join")
    tracer.patch(pagecodec, "write_value_list", "wire.serialize")
    tracer.patch(pagecodec, "join_with_length_prefix", "wire.serialize")
    tracer.patch(pagecodec, "read_value_list", "wire.parse")
    tracer.patch(pagecodec, "split_with_length_prefix", "wire.parse")
    make = pagecodec.make_encryptor

    def make_traced(name, key):
        enc = make(name, key)
        for attr in ("encrypt_elements", "decrypt_elements"):
            setattr(enc, attr, tracer.wrap("keystream.elements", getattr(enc, attr)))
        for attr in ("encrypt_block", "decrypt_block"):
            setattr(enc, attr, tracer.wrap("keystream.block", getattr(enc, attr)))
        return enc

    pagecodec.make_encryptor = make_traced


# ---------------------------------------------------------------------------
# agents
# ---------------------------------------------------------------------------


def local_agents(pages, metadata: dict | None):
    from databatchprotectionservice_spark.agent import LocalProtectionAgent
    from databatchprotectionservice_spark.core.types import CompressionCodec, PhysicalType

    agents = {}
    for p in pages:
        k = key_id(p)
        if k not in agents:
            a = LocalProtectionAgent()
            a.init(p.column, {"encryptor": ENCRYPTOR}, APP_CONTEXT, k,
                   PhysicalType[p.datatype], p.datatype_length, CompressionCodec[p.codec],
                   None if metadata is None else metadata[k])
            agents[k] = a
    return agents


def remote_agents(pages, metadata: dict | None, url: str):
    from databatchprotectionservice_spark.core.types import CompressionCodec, PhysicalType
    from databatchprotectionservice_spark.service.client import RemoteProtectionAgent

    config = {"server_url": url, "credentials": {"client_id": CLIENT_ID, "api_key": API_KEY}}
    agents = {}
    for p in pages:
        k = key_id(p)
        if k not in agents:
            a = RemoteProtectionAgent()
            a.init(config, p.column, k, PhysicalType[p.datatype], p.datatype_length,
                   CompressionCodec[p.codec], user_id="perfbench",
                   application_context=APP_CONTEXT,
                   column_encryption_metadata=None if metadata is None else metadata[k])
            agents[k] = a
    return agents


class Server:
    """The protection service in its own process, started through
    ``server_main.py``; stopped by closing its stdin."""

    def __init__(self, trace_path: str | None):
        cmd = [sys.executable, os.path.join(HERE, "server_main.py"), trace_path or "-"]
        self.proc = subprocess.Popen(cmd, stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
        self.url = self.proc.stdout.readline().strip()
        if not self.url.startswith("http://127.0.0.1:"):
            self.stop()
            raise RuntimeError(f"server did not start: {self.url!r}")

    def stop(self) -> None:
        if self.proc.poll() is None:
            self.proc.stdin.close()
            try:
                self.proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()


# ---------------------------------------------------------------------------
# the loop
# ---------------------------------------------------------------------------


class PagePass:
    """Protect then unprotect every page; times each call and checks each
    result outside the timed region."""

    def __init__(self, pages, enc_agents, dec_agents, reference_ct, ref: Reference, tracer):
        self.pages, self.enc, self.dec = pages, enc_agents, dec_agents
        self.reference_ct = reference_ct
        self.ref, self.tracer = ref, tracer
        self.protect_s: list[float] = []
        self.unprotect_s: list[float] = []
        self.failed = 0
        self.errors: list[str] = []
        self.last_ct: list[bytes] = []
        self.metadata: dict[str, dict] = {}

    def _fail(self, msg: str) -> None:
        self.failed += 1
        if len(self.errors) < 5:
            self.errors.append(msg)

    def run(self) -> None:
        tracer = self.tracer
        self.last_ct = []
        for i, p in enumerate(self.pages):
            k = key_id(p)
            encrypt = self.enc[k].encrypt
            if tracer:
                tracer.op_id = i
                encrypt = tracer.wrap("op.protect", encrypt)
            t0 = time.perf_counter()
            r = encrypt(p.payload, p.attrs)
            self.protect_s.append(time.perf_counter() - t0)
            ct = r.ciphertext
            self.last_ct.append(ct)
            if not r.success:
                self._fail(f"encrypt {p.column}#{p.index}: {r.error_message}")
            elif (r.encryption_metadata or {}).get(p.mode_key) != p.expected_mode:
                self._fail(f"encrypt {p.column}#{p.index}: mode {r.encryption_metadata}")
            elif self.reference_ct is not None and ct != self.reference_ct[i]:
                self._fail(f"encrypt {p.column}#{p.index}: ciphertext not deterministic")
            else:
                self.metadata.setdefault(k, {}).update(r.encryption_metadata)
            if self.dec is not None:
                decrypt = self.dec[k].decrypt
                if tracer:
                    decrypt = tracer.wrap("op.unprotect", decrypt)
                t0 = time.perf_counter()
                d = decrypt(ct, p.attrs)
                self.unprotect_s.append(time.perf_counter() - t0)
                if not d.success or d.plaintext != p.payload:
                    self._fail(f"decrypt {p.column}#{p.index}: {d.error_message or 'bytes differ'}")
            if i % REF_EVERY == REF_EVERY - 1:
                self.ref.tick()


def sample_checks(pages, ciphertexts, seed: int) -> list[str]:
    """Independent keystream recomputation on every page (a sample of
    values each) and the plaintext-leak check; one message per page that
    fails."""
    rng = np.random.default_rng(seed)
    errors = []
    for p, ct in zip(pages, ciphertexts):
        found = checks.check_keystream_page(p, key_id(p), ct, 64, rng)
        if p.datatype == "BYTE_ARRAY" and p.encoding == "PLAIN":
            _, values = checks.plain_values(p)
            picks = [values[i] for i in rng.choice(len(values), min(64, len(values)), replace=False)]
            found += [f"{p.column}#{p.index}: plaintext {v[:16]!r} in ciphertext"
                      for v in checks.leaked(picks, [ct])]
        errors += found[:1]
    return errors


def run(workload: str, seed: int, seconds: float, trace: bool, work: str, t_start: float) -> dict:
    t0 = time.perf_counter()
    pages_file = os.path.join(work, "pages.pickle")
    digest = inputs.build_in_child("pages", seed, pages_file)
    pages = inputs.load_pages(pages_file)
    print(f"inputs sha256={digest} pages={len(pages)}", flush=True)
    setup = {"setup.inputs_s": time.perf_counter() - t0}
    ref = Reference()
    tracer = Tracer() if trace else None
    server = None
    try:
        t0 = time.perf_counter()
        if workload == "service_http":
            server = Server(os.path.join(work, "server_spans.json") if trace else None)
            make_agents = lambda meta: remote_agents(pages, meta, server.url)  # noqa: E731
        else:
            make_agents = lambda meta: local_agents(pages, meta)  # noqa: E731
        setup["setup.server_s"] = time.perf_counter() - t0 if server else 0.0
        t0 = time.perf_counter()
        # warm-up: the first pass fixes each column's encryption metadata
        # and the reference ciphertext every later pass must reproduce
        first = PagePass(pages, make_agents(None), None, None, ref, None)
        first.run()
        if first.failed:
            raise RuntimeError(f"warm-up failed: {first.errors}")
        enc, dec = make_agents(None), make_agents(first.metadata)
        PagePass(pages, enc, dec, first.last_ct, ref, None).run()
        setup["setup.warmup_s"] = time.perf_counter() - t0
        if tracer and server:
            from databatchprotectionservice_spark.service import client

            patch_client(tracer, client)
        elif tracer:
            patch_page_layers(tracer)
        ready = time.perf_counter()
        setup_s = time.clock_gettime(time.CLOCK_BOOTTIME) - t_start

        timed = PagePass(pages, enc, dec, first.last_ct, ref, tracer)
        passes = 0
        cpu0 = time.process_time()
        server_cpu0 = cpu_seconds(server.proc.pid) if server else 0.0
        while passes < MIN_PASSES or time.perf_counter() - ready < seconds:
            timed.run()
            passes += 1
        window = (ready, time.perf_counter())
        client_cpu = time.process_time() - cpu0
        server_cpu = cpu_seconds(server.proc.pid) - server_cpu0 if server else 0.0
        pids = [os.getpid()] + ([server.proc.pid] if server else [])
        rss = peak_rss_mb(pids)
    finally:
        if server:
            server.stop()

    # ciphertext is checked to repeat on every pass, so a page that fails
    # the independent checks failed its protect call in every pass
    bad_pages = sample_checks(pages, timed.last_ct, seed)
    plain = sum(p.plaintext_bytes for p in pages)
    ct_bytes = sum(len(c) for c in timed.last_ct)
    result = {
        "attempted": len(timed.protect_s) + len(timed.unprotect_s),
        "failed": timed.failed + passes * len(bad_pages),
        # every check on the page path belongs to one operation
        "correct": True,
        "errors": timed.errors + bad_pages,
        "ref_ms": ref.ms(),
    }
    if not trace:
        result["metrics"] = {
            "setup_s": (setup_s, "s"),
            "protect_mb_s": (plain * passes / 1e6 / sum(timed.protect_s), "MB/s"),
            "unprotect_mb_s": (plain * passes / 1e6 / sum(timed.unprotect_s), "MB/s"),
            "protect_ms_p50": (median(timed.protect_s) * 1e3, "ms"),
            "unprotect_ms_p50": (median(timed.unprotect_s) * 1e3, "ms"),
            "protect_ms_p90": (percentile(timed.protect_s, 90) * 1e3, "ms"),
            "unprotect_ms_p90": (percentile(timed.unprotect_s, 90) * 1e3, "ms"),
            "ciphertext_expansion": (ct_bytes / sum(len(p.payload) for p in pages), "ratio"),
            "peak_rss_mb": (rss, "MB"),
        }
        return result

    layers = {m: 0.0 for m in CORE_LAYERS.values()}
    spans = tracer.spans
    per_pass = 1e3 / passes
    if server:
        with open(os.path.join(work, "server_spans.json")) as f:
            server_spans = json.load(f)
        own = self_times(spans, *window)
        srv = self_times(server_spans, *window)
        for name, metric in CORE_LAYERS.items():
            layers[metric] = srv.get(name, 0.0) * per_pass
        srv_total = _durations(server_spans, window)
        op_ms = _durations(spans, window)
        layers.update({
            "agent.other_ms": srv.get("server.kernel", 0.0) * per_pass,
            "client.encode_ms": own.get("client.encode", 0.0) * per_pass,
            "client.decode_ms": own.get("client.decode", 0.0) * per_pass,
            "client.cpu_s": client_cpu / passes,
            "server.parse_ms": srv.get("server.parse", 0.0) * per_pass,
            "server.auth_ms": srv.get("server.auth", 0.0) * per_pass,
            "server.kernel_ms": srv_total.get("server.kernel", 0.0) * per_pass,
            "server.respond_ms": srv.get("server.respond", 0.0) * per_pass,
            "server.cpu_s": server_cpu / passes,
            "server.requests": _count(server_spans, "server.request", window) / passes,
            "server.token_requests": _count(server_spans, "server.token", (0, window[1])),
            "service.transport_ms": (
                op_ms.get("op.protect", 0.0) + op_ms.get("op.unprotect", 0.0)
                - own.get("client.encode", 0.0) - own.get("client.decode", 0.0)
                - srv_total.get("server.request", 0.0)
            ) * per_pass,
            "service.connections": _count(server_spans, "server.connection", window) / passes,
            "service.wire_bytes_per_plaintext_byte": tracer.counts["wire_bytes"] / (2 * plain * passes),
        })
    else:
        own = self_times(spans, *window)
        for name, metric in CORE_LAYERS.items():
            layers[metric] = own.get(name, 0.0) * per_pass
        layers["agent.other_ms"] = (own.get("op.protect", 0.0) + own.get("op.unprotect", 0.0)) * per_pass
    layers.update({
        "pagecodec.pages_per_value": sum(p.expected_mode == "per_value" for p in pages),
        "pagecodec.pages_per_block": sum(p.expected_mode == "per_block" for p in pages),
        "agent.plaintext_mb": plain / 1e6,
        "agent.ciphertext_mb": ct_bytes / 1e6,
        "ops.protect_ms": sum(timed.protect_s) * per_pass,
        "ops.unprotect_ms": sum(timed.unprotect_s) * per_pass,
        "bench.cpu_s": client_cpu / passes,
        "machine.ref_ms": ref.ms(),
        **setup,
    })
    result["layers"] = layers
    return result


def _durations(spans, window) -> dict[str, float]:
    out: dict[str, float] = {}
    for name, start, end, _, _ in spans:
        if window[0] <= start <= window[1]:
            out[name] = out.get(name, 0.0) + end - start
    return out


def _count(spans, name, window) -> int:
    return sum(1 for s in spans if s[0] == name and window[0] <= s[1] <= window[1])


def patch_client(tracer: Tracer, client) -> None:
    """Wrap the client's JSON and base64 work, as bound in
    ``service/client``, and count the bytes that cross the wire."""
    import base64
    import json as json_mod
    from types import SimpleNamespace

    counts = tracer.counts

    def dumps(obj, **kw):
        s = json_mod.dumps(obj, **kw)
        counts["wire_bytes"] += len(s)
        return s

    def loads(s, **kw):
        counts["wire_bytes"] += len(s)
        return json_mod.loads(s, **kw)

    client.json = SimpleNamespace(
        dumps=tracer.wrap("client.encode", dumps), loads=tracer.wrap("client.decode", loads)
    )
    tracer.patch(client, "encode_base64", "client.encode")
    tracer.patch(base64, "b64decode", "client.decode")
