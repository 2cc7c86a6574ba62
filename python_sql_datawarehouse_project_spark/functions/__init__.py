"""Scalar/column function kits: reference cleansing rules (R1-R8) and
the text and fingerprint extension functions."""
