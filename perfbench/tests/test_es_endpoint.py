"""The loopback Elasticsearch endpoint, driven through the engine's
own sink code."""

import json
import sys
import threading
import urllib.request

import pytest

from graal_cdc_spark.sinks.elasticsearch import EsSinkConfig, send_records, urllib_transport
from perfbench.es_endpoint import EsEndpoint


@pytest.fixture
def ep():
    with EsEndpoint(max_connections=2) as e:
        yield e


def _cfg(ep):
    return EsSinkConfig(url=ep.url, username="u", password="p", id_key="id", bulk_chunk_size=3)


def test_bulk_index_then_delete_through_the_sink(ep):
    cfg = _cfg(ep)
    docs = [{"id": i, "v": i * 10} for i in range(5)]
    send_records(cfg, docs, "index", urllib_transport)
    assert ep.documents() == {str(i): {"id": i, "v": i * 10} for i in range(5)}
    # two bulk requests of 3 and 2 items
    assert ep.stats()["requests"] == 2 and ep.stats()["items"] == 5
    send_records(cfg, [{"id": 1}, {"id": 3}, {"id": 99}], "delete", urllib_transport)
    assert sorted(ep.documents()) == ["0", "2", "4"]
    st = ep.stats()
    assert st["requests"] == 3 and st["items"] == 8 and st["rejected"] == 0
    assert st["bytes"] > 0


def test_bulk_reports_per_item_results(ep):
    body = "\n".join([
        json.dumps({"index": {"_id": "a"}}), json.dumps({"x": 1}),
        json.dumps({"delete": {"_id": "a"}}),
        json.dumps({"delete": {"_id": "missing"}}),
    ]) + "\n"
    status, reply, _ = urllib_transport(
        ("POST", ep.url + "/_bulk", {"Content-Type": "application/x-ndjson"}, body))
    reply = json.loads(reply)
    assert status == 200 and reply["errors"] is True
    assert [next(iter(i.values()))["status"] for i in reply["items"]] == [201, 200, 404]
    assert ep.documents() == {}


def test_single_document_put_and_delete(ep):
    cfg = _cfg(ep)
    send_records(cfg, [{"id": "k/1", "v": 1}], "index", urllib_transport)
    assert ep.documents() == {"k/1": {"id": "k/1", "v": 1}}
    status, _, _ = urllib_transport(("DELETE", ep.url + "/_doc/nope", {}, None))
    assert status == 404
    send_records(cfg, [{"id": "k/1"}], "delete", urllib_transport)
    assert ep.documents() == {}
    assert ep.stats()["requests"] == 3


def test_requests_beyond_the_connection_limit_are_refused_with_429(ep):
    # hold every slot, as two in-flight requests would
    assert ep._slots.acquire(blocking=False) and ep._slots.acquire(blocking=False)
    try:
        status, _, headers = urllib_transport(
            ("PUT", ep.url + "/_doc/x", {"Content-Type": "application/json"}, "{}"))
    finally:
        ep._slots.release()
        ep._slots.release()
    assert status == 429 and headers.get("Retry-After") == "0"
    assert ep.stats()["rejected"] == 1 and ep.documents() == {}


def test_unknown_index_is_refused_and_not_counted(ep):
    with pytest.raises(urllib.error.HTTPError) as err:
        urllib.request.urlopen(urllib.request.Request(
            ep.url.rsplit("/", 1)[0] + "/other/_bulk", data=b"{}\n", method="POST"))
    assert err.value.code == 404
    assert ep.stats() == {"requests": 0, "bytes": 0, "items": 0, "rejected": 0}


def test_concurrent_bulk_writers_lose_no_update():
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with EsEndpoint(max_connections=32) as ep:
            cfg = EsSinkConfig(url=ep.url, username="u", password="p", id_key="id",
                               bulk_chunk_size=5)

            def writer(w):
                docs = [{"id": f"{w}-{i}", "w": w} for i in range(50)]
                send_records(cfg, docs, "index", urllib_transport)

            threads = [threading.Thread(target=writer, args=(w,)) for w in range(16)]
            for t in threads:
                t.start()
            for t in threads:
                t.join(timeout=60)
            assert not any(t.is_alive() for t in threads)
            st = ep.stats()
            assert st == {"requests": 16 * 10, "bytes": st["bytes"], "items": 16 * 50,
                          "rejected": 0}
            assert len(ep.documents()) == 16 * 50
    finally:
        sys.setswitchinterval(old)


def test_malformed_bulk_body_is_a_400(ep):
    status, _, _ = urllib_transport(
        ("POST", ep.url + "/_bulk", {"Content-Type": "application/x-ndjson"}, "not json\n"))
    assert status == 400 and ep.documents() == {}
