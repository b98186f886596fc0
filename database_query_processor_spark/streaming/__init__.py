"""Structured Streaming operators (no reference analog — the reference
is strictly batch, single executeQuery pass, src/QueryMain.java:162-194)."""
