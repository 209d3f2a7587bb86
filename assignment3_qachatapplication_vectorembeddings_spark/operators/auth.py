"""Auth + chat-history tables as engine-managed parquet tables.

Reference surface (``fastapi-backend/fastapiservice/``):
- ``/register`` — duplicate-email gate (J5, main.py:36-38) + PBKDF2
  hash + insert (crud.py:14-18)
- ``/login`` — email point lookup (P2) + verify + JWT (main.py:43-51)
- ``/chatAnswer`` — user's chats newest-first (J1 + T2, main.py:62-74)
- chat insert (crud.py:35-40)

Tables are append-mostly parquet; point lookups are broadcast-friendly
filters. Auto-increment PKs (MySQL AUTO_INCREMENT) become max+1 driver
reads — these tables are catalog-scale (users, sessions), not the
100 TB path, so a driver-side max is the right cost model; the data
path never touches them except via broadcast joins. Inserts are one
driver-built row each, shipped through :func:`~..runtime.local_frame`
(Arrow, one partition → one parquet file per insert); timestamps are
tz-aware UTC, so the stored instant never depends on the host's zone.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.crypto import (
    create_access_token,
    email_ok,
    hash_password,
    password_ok,
    verify_password,
    verify_token,
)
from ..runtime import local_frame
from ..schemas import CHAT_SCHEMA, REFERENCE_SCHEMA, USER_SCHEMA

__all__ = ["AuthStore"]


class AuthStore:
    def __init__(self, spark: SparkSession, path: str, secret: str = "change-me"):
        self.spark = spark
        self.users_path = f"{path}/usercredentials"
        self.chats_path = f"{path}/chathistory"
        self.references_path = f"{path}/reference"
        self.secret = secret

    # -- table access -------------------------------------------------------

    def _read(self, path: str, schema) -> DataFrame:
        try:
            return self.spark.read.schema(schema).parquet(path)
        except Exception:
            return self.spark.createDataFrame([], schema)

    def users(self) -> DataFrame:
        return self._read(self.users_path, USER_SCHEMA)

    def chats(self) -> DataFrame:
        return self._read(self.chats_path, CHAT_SCHEMA)

    def _next_id(self, df: DataFrame, col: str) -> int:
        """max+1 on the driver — the analog of MySQL AUTO_INCREMENT for
        these catalog-scale tables. NOT safe under concurrent writers
        (two writers can read the same max); a multi-writer deployment
        should replace it with an external sequence or UUID keys. The
        100 TB data path never allocates ids this way. A top-1 sort
        (one TakeOrderedAndProject job) rather than ``agg(max)``, whose
        partial/final aggregate pays a second job and an exchange."""
        row = df.select(col).orderBy(F.desc(col)).limit(1).head()
        top = None if row is None else row[col]
        return int(top or 0) + 1

    def _insert(self, path: str, row: tuple, schema) -> None:
        local_frame(self.spark, [row], schema).write.mode("append").parquet(path)

    # -- P2: point lookup by email (crud.py:11-12) ---------------------------

    def get_user_by_email(self, email: str):
        return self.users().filter(F.col("user_email") == email).limit(1).head()

    # -- /register: J5 duplicate gate + F15 hash + insert --------------------

    def register(self, email: str, password: str) -> int:
        # P7 (Registration.py:32-35): the reference validates in the
        # frontend form; the engine validates at the table boundary
        if not email_ok(email):
            raise ValueError("Invalid email (expected something@domain.com)")
        if not password_ok(password):
            raise ValueError(
                "Invalid password (min 5 non-space chars, one of !@#$%^&*)"
            )
        if self.get_user_by_email(email) is not None:
            raise ValueError("Email already registered")  # main.py:36-38
        salt, pw_hash = hash_password(password)
        user_id = self._next_id(self.users(), "user_id")
        now = dt.datetime.now(dt.timezone.utc)
        self._insert(
            self.users_path,
            (user_id, email, bytes(salt), pw_hash, now, now, None, True),
            USER_SCHEMA,
        )
        return user_id

    # -- /login: P2 + F15 verify + F16 token (main.py:43-51) -----------------

    def login(self, email: str, password: str) -> str | None:
        user = self.get_user_by_email(email)
        if user is None:
            return None
        if not verify_password(password, bytes(user["user_salt"]), user["user_hashpassword"]):
            return None
        return create_access_token(email, self.secret)

    def current_user(self, token: str):
        """get_current_user dependency (main.py:56-60)."""
        email = verify_token(token, self.secret)
        return None if email is None else self.get_user_by_email(email)

    # -- chat history: insert (crud.py:35-40) + ordered scan (main.py:73) ----

    def add_chat(self, user_id: int, question: str, answer: str) -> int:
        chat_id = self._next_id(self.chats(), "chat_id")
        self._insert(
            self.chats_path,
            (chat_id, user_id, question, answer, dt.datetime.now(dt.timezone.utc)),
            CHAT_SCHEMA,
        )
        return chat_id

    # -- references: the table behind /showReference (models.py:35-40) -------

    def references(self) -> DataFrame:
        return self._read(self.references_path, REFERENCE_SCHEMA)

    def add_reference(self, form_title: str) -> int:
        """One row per ingested form; the ingest pipeline registers each
        processed document here (the reference populates Reference as
        forms land, main.py:78-85 reads it back)."""
        ref_id = self._next_id(self.references(), "id")
        self._insert(
            self.references_path,
            (ref_id, form_title, dt.datetime.now(dt.timezone.utc)),
            REFERENCE_SCHEMA,
        )
        return ref_id

    def chat_history(self, email: str) -> DataFrame:
        """J1 broadcast join + T2 newest-first (main.py:64-74)."""
        user = F.broadcast(
            self.users().filter(F.col("user_email") == email).select("user_id")
        )
        return (
            self.chats()
            .join(user, "user_id", "inner")
            .orderBy(F.desc("created_datetime"), F.desc("chat_id"))
        )
