"""Auth flow: register → login → token → chat history (reference
main.py endpoints re-expressed over engine tables)."""

from __future__ import annotations

import datetime as dt
import os
import time

import pytest
from pyspark.sql import functions as F

from assignment3_qachatapplication_vectorembeddings_spark.functions.crypto import (
    create_access_token,
    hash_password,
    verify_password,
    verify_token,
)
from assignment3_qachatapplication_vectorembeddings_spark.operators.auth import AuthStore


def test_pbkdf2_roundtrip_and_salt_sensitivity():
    salt, stored = hash_password("s3cret!")
    assert len(salt) == 16
    assert verify_password("s3cret!", salt, stored)
    assert not verify_password("wrong", salt, stored)
    salt2, stored2 = hash_password("s3cret!")
    assert stored != stored2  # fresh salt → different hash


def test_jwt_roundtrip_expiry_and_garbage():
    tok = create_access_token("user@example.com", "secret", _now=1000.0)
    assert verify_token(tok, "secret", _now=1000.0 + 29 * 60) == "user@example.com"
    # 30-minute expiry (jwt_utils.py:8-9)
    assert verify_token(tok, "secret", _now=1000.0 + 31 * 60) is None
    # wrong secret, malformed token → None, never raises (jwt_utils.py:19-26)
    assert verify_token(tok, "other", _now=1000.0) is None
    assert verify_token("garbage", "secret") is None
    assert verify_token("a.b.c", "secret") is None


@pytest.mark.slow
def test_register_login_chat_flow(spark, tmp_path):
    store = AuthStore(spark, str(tmp_path / "auth"), secret="test-secret")

    uid = store.register("alice@test.com", "hunter2!")
    assert uid == 1
    # duplicate email rejected (main.py:36-38)
    with pytest.raises(ValueError, match="already registered"):
        store.register("alice@test.com", "Other!5")

    assert store.login("alice@test.com", "wrong") is None
    token = store.login("alice@test.com", "hunter2!")
    assert token is not None
    user = store.current_user(token)
    assert user["user_email"] == "alice@test.com"

    uid2 = store.register("bob@test.com", "pass123!")
    assert uid2 == 2

    store.add_chat(uid, "q1?", "a1")
    store.add_chat(uid, "q2?", "a2")
    store.add_chat(uid2, "other?", "x")

    hist = store.chat_history("alice@test.com").collect()
    assert [r["user_question"] for r in hist] == ["q2?", "q1?"]  # newest first
    assert all(r["user_id"] == uid for r in hist)


def test_p7_registration_validation(spark, tmp_path):
    from assignment3_qachatapplication_vectorembeddings_spark.functions.crypto import (
        email_ok,
        email_ok_col,
        password_ok,
        password_ok_col,
    )
    from assignment3_qachatapplication_vectorembeddings_spark.operators.auth import (
        AuthStore,
    )
    from pyspark.sql import functions as F

    assert email_ok("a@b.com") and not email_ok("a@b.org") and not email_ok("nope")
    assert password_ok("abc$e") and not password_ok("abcde") and not password_ok("a$")

    # column forms agree with the python forms (rlike handles lookahead)
    df = spark.createDataFrame(
        [("a@b.com", "abc$e"), ("a@b.org", "abcde"), ("x", "a$")],
        "email string, pw string",
    )
    rows = df.select(
        email_ok_col(F.col("email")).alias("e"),
        password_ok_col(F.col("pw")).alias("p"),
    ).collect()
    assert [(r["e"], r["p"]) for r in rows] == [
        (True, True),
        (False, False),
        (False, False),
    ]

    auth = AuthStore(spark, str(tmp_path / "auth"), secret="s")
    with pytest.raises(ValueError, match="Invalid email"):
        auth.register("bad-email", "abc$e")
    with pytest.raises(ValueError, match="Invalid password"):
        auth.register("ok@x.com", "weakpw")
    assert auth.register("ok@x.com", "abc$e") >= 1


def test_created_datetime_is_utc_under_non_utc_host_zone(spark, tmp_path):
    """Insert timestamps are tz-aware UTC: with the Python process in a
    non-UTC zone, every stored ``created_datetime`` still reads back
    (rendered in the UTC session zone) as the UTC wall time written —
    not shifted by the host's offset."""
    store = AuthStore(spark, str(tmp_path / "auth"), secret="test-secret")
    old_tz = os.environ.get("TZ")
    os.environ["TZ"] = "America/New_York"
    time.tzset()
    try:
        before = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
        user_id = store.register("tz@test.com", "S3cret!pw")
        store.add_chat(user_id, "q", "a")
        store.add_reference("tz form")
        after = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
    finally:
        if old_tz is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = old_tz
        time.tzset()
    for table in (store.users(), store.chats(), store.references()):
        (rendered,) = table.select(
            F.col("created_datetime").cast("string")
        ).first()
        assert before <= dt.datetime.fromisoformat(rendered) <= after
