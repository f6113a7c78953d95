"""Canonical schemas for the voting domain.

Derived from the reference's Postgres DDL (main.py:33-79) and its Spark
StructType (spark_stream.py:15-38), with the schema drift documented in
SURVEY.md §1 resolved explicitly:

- The producer sends 23 top-level keys (voter ∪ candidate ∪
  {voting_time, vote}); the reference's declared stream schema has 22 —
  it drops ``email`` (main.py:165) and declares ``registered_date``
  (spark_stream.py:36) where the producer sends ``registered_age``
  (main.py:168), so ``registered_date`` is always NULL after from_json.
- Canonical fixed schema: carries ``registered_age`` int (the repair).
- ``reference_vote_event_schema()``: the verbatim 22-field schema for
  strict parity, dead NULL column included.
"""

from __future__ import annotations

from pyspark.sql import types as T


def candidate_schema() -> T.StructType:
    """candidates table (main.py:33-43)."""
    return T.StructType(
        [
            T.StructField("candidate_id", T.StringType(), False),
            T.StructField("candidate_name", T.StringType(), True),
            T.StructField("party_affiliation", T.StringType(), True),
            T.StructField("biography", T.StringType(), True),
            T.StructField("campaign_platform", T.StringType(), True),
            T.StructField("photo_url", T.StringType(), True),
        ]
    )


def voter_schema() -> T.StructType:
    """voters table (main.py:47-66); date_of_birth canonicalized to
    DateType (reference stores 'YYYY-MM-DD' strings, main.py:156)."""
    return T.StructType(
        [
            T.StructField("voter_id", T.StringType(), False),
            T.StructField("voter_name", T.StringType(), True),
            T.StructField("date_of_birth", T.DateType(), True),
            T.StructField("gender", T.StringType(), True),
            T.StructField("nationality", T.StringType(), True),
            T.StructField("registration_number", T.StringType(), True),
            T.StructField("address_street", T.StringType(), True),
            T.StructField("address_city", T.StringType(), True),
            T.StructField("address_state", T.StringType(), True),
            T.StructField("address_country", T.StringType(), True),
            T.StructField("address_postcode", T.StringType(), True),
            T.StructField("email", T.StringType(), True),
            T.StructField("phone_number", T.StringType(), True),
            T.StructField("picture", T.StringType(), True),
            T.StructField("registered_age", T.IntegerType(), True),
        ]
    )


def vote_event_schema() -> T.StructType:
    """Canonical denormalized vote event (votes_topic payload,
    voting.py:69-74): voter ∪ candidate ∪ {voting_time, vote}, with the
    ``registered_age`` repair applied."""
    fields = [f for f in voter_schema().fields if f.name != "email"]
    fields += list(candidate_schema().fields)
    fields += [
        T.StructField("voting_time", T.TimestampType(), True),
        T.StructField("vote", T.IntegerType(), True),
    ]
    return T.StructType(fields)


def reference_vote_event_schema() -> T.StructType:
    """The reference's verbatim 22-field stream schema
    (spark_stream.py:15-38) for strict parity mode, field order and
    types exactly as declared there: no ``email``; ``date_of_birth`` is
    a raw string (the canonical schema upgrades it to DateType); and a
    ``registered_date`` string that parses NULL because the producer
    sends ``registered_age`` (main.py:168). from_json matches by name,
    so consumers relying on position or the declared string type see
    precisely what the reference's job produced."""
    names_types = [
        ("voter_id", T.StringType()),
        ("candidate_id", T.StringType()),
        ("voting_time", T.TimestampType()),
        ("voter_name", T.StringType()),
        ("party_affiliation", T.StringType()),
        ("biography", T.StringType()),
        ("campaign_platform", T.StringType()),
        ("photo_url", T.StringType()),
        ("candidate_name", T.StringType()),
        ("date_of_birth", T.StringType()),
        ("gender", T.StringType()),
        ("nationality", T.StringType()),
        ("registration_number", T.StringType()),
        ("address_street", T.StringType()),
        ("address_city", T.StringType()),
        ("address_state", T.StringType()),
        ("address_country", T.StringType()),
        ("address_postcode", T.StringType()),
        ("phone_number", T.StringType()),
        ("picture", T.StringType()),
        ("registered_date", T.StringType()),
        ("vote", T.IntegerType()),
    ]
    return T.StructType(
        [T.StructField(n, t, True) for n, t in names_types]
    )
