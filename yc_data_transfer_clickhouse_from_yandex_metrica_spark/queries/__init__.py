"""Metrica-parity chart queries over the visits model (``metrica``)."""
