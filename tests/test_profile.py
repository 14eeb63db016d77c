"""The run instruments in ``csv_loader_spark.profile`` count what they say."""

import threading

from py4j import clientserver, java_gateway

from csv_loader_spark.profile import counting


def test_counting_counts_each_round_trip_once(spark, monkeypatch):
    # The spy sits one level below the client ``counting`` wraps: on the
    # connection that writes each command to the JVM's socket. Neither
    # connection class inherits the other's ``send_command``.
    sent = {"n": 0}
    caller = threading.get_ident()
    for cls in (java_gateway.GatewayConnection, clientserver.ClientServerConnection):

        def spy(self, *a, _orig=cls.send_command, **kw):
            if threading.get_ident() == caller:
                sent["n"] += 1
            return _orig(self, *a, **kw)

        monkeypatch.setattr(cls, "send_command", spy)
    session = spark._jsparkSession
    k = 7
    with counting() as calls:
        for _ in range(k):
            session.version()
    assert sent["n"] >= k
    assert calls["n"] == sent["n"]
