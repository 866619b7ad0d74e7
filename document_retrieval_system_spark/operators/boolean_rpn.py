"""Full boolean query language (SURVEY.md §2.4 B3-B5): quoted phrases,
AND/OR/NOT, NEAR/k, parentheses, implicit AND.

Transcribed from the reference's standalone BooleanModel
(/root/reference/core/retrieval/algorithms/boolean_model.py):

- lexer ``tokenize_query`` (:62-138): phrase placeholders, operator
  normalization, paren spacing, implicit-AND insertion between adjacent
  term/phrase/paren tokens;
- shunting-yard ``to_rpn`` (:140-189) with precedence OR=1 < AND=2 <
  NOT=NEAR=3 < PHRASE=4 (:54-60);
- evaluator ``evaluate`` (:259-361): a stack machine over *document
  sets*, here DataFrames of (shard, local_no): TERM -> posting doc set,
  AND -> intersect, OR -> union, NOT -> complement against all docs
  (left_anti), NEAR/k -> position join (B6), PHRASE -> consecutive
  positions (B7).

Like the reference class, terms are matched raw-lowercase (the standalone
model indexes pre-processed tokens; callers analyze phrases/terms before
evaluation if they want analyzer semantics).
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from enum import Enum

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class TokenType(Enum):
    TERM = 0
    AND = 1
    OR = 2
    NOT = 3
    LPAREN = 4
    RPAREN = 5
    NEAR = 6
    PHRASE = 7


@dataclass
class Token:
    type: TokenType
    value: str


PRECEDENCE = {
    TokenType.OR: 1,
    TokenType.AND: 2,
    TokenType.NOT: 3,
    TokenType.NEAR: 3,
    TokenType.PHRASE: 4,
}


def tokenize_query(query: str) -> list[Token]:
    """boolean_model.py:62-138."""
    query = query.strip()
    phrases = re.findall(r'"([^"]+)"', query)
    for i, phrase in enumerate(phrases):
        query = query.replace(f'"{phrase}"', f"__PHRASE_{i}__")
    query = re.sub(r"\bAND\b", " AND ", query, flags=re.IGNORECASE)
    query = re.sub(r"\bOR\b", " OR ", query, flags=re.IGNORECASE)
    query = re.sub(r"\bNOT\b", " NOT ", query, flags=re.IGNORECASE)
    query = re.sub(r"\bNEAR/(\d+)\b", r" NEAR/\1 ", query, flags=re.IGNORECASE)
    query = query.replace("(", " ( ").replace(")", " ) ")

    tokens: list[Token] = []
    for part in query.split():
        if part.startswith("__PHRASE_") and part.endswith("__"):
            index = int(part[9:-2])
            if index < len(phrases):
                tokens.append(Token(TokenType.PHRASE, phrases[index]))
                continue
        upper = part.upper()
        if upper == "AND":
            tokens.append(Token(TokenType.AND, "AND"))
        elif upper == "OR":
            tokens.append(Token(TokenType.OR, "OR"))
        elif upper == "NOT":
            tokens.append(Token(TokenType.NOT, "NOT"))
        elif part == "(":
            tokens.append(Token(TokenType.LPAREN, "("))
        elif part == ")":
            tokens.append(Token(TokenType.RPAREN, ")"))
        elif upper.startswith("NEAR/"):
            try:
                int(part.split("/")[1])
                tokens.append(Token(TokenType.NEAR, upper))
            except (IndexError, ValueError):
                tokens.append(Token(TokenType.TERM, part.lower()))
        else:
            tokens.append(Token(TokenType.TERM, part.lower()))

    # implicit AND between adjacent operands (:124-137)
    result: list[Token] = []
    for i, tok in enumerate(tokens):
        result.append(tok)
        if i < len(tokens) - 1:
            if tok.type in (TokenType.TERM, TokenType.PHRASE, TokenType.RPAREN) and \
               tokens[i + 1].type in (TokenType.TERM, TokenType.PHRASE,
                                      TokenType.LPAREN, TokenType.NOT):
                result.append(Token(TokenType.AND, "AND"))
    return result


def to_rpn(tokens: list[Token]) -> list[Token] | None:
    """boolean_model.py:140-189 (shunting-yard; None on unbalanced parens)."""
    output: list[Token] = []
    stack: list[Token] = []
    for token in tokens:
        if token.type in (TokenType.TERM, TokenType.PHRASE):
            output.append(token)
        elif token.type == TokenType.LPAREN:
            stack.append(token)
        elif token.type == TokenType.RPAREN:
            while stack and stack[-1].type != TokenType.LPAREN:
                output.append(stack.pop())
            if stack and stack[-1].type == TokenType.LPAREN:
                stack.pop()
            else:
                return None
        else:
            while (
                stack
                and stack[-1].type != TokenType.LPAREN
                and PRECEDENCE.get(stack[-1].type, 0) >= PRECEDENCE.get(token.type, 0)
            ):
                output.append(stack.pop())
            stack.append(token)
    while stack:
        if stack[-1].type == TokenType.LPAREN:
            return None
        output.append(stack.pop())
    return output


def evaluate_rpn(reader, rpn: list[Token]) -> DataFrame:
    """boolean_model.py:259-361 as DataFrame set algebra.

    Returns a DataFrame of (shard, local_no) doc keys.
    """
    from document_retrieval_system_spark.operators.search import (
        _doc_set,
        near_search,
        phrase_search,
    )

    spark = reader.spark
    empty = spark.createDataFrame([], "shard int, local_no long")
    all_docs = reader.docs().filter(F.col("doc_len") > 0).select("shard", "local_no")

    stack: list[DataFrame | str] = []
    # NEAR needs its operand TERMS (the reference's simplification :332-336
    # re-derives positions from raw term doc sets); we track the source
    # term for single-term operands to give NEAR exact semantics.
    term_of: dict[int, str] = {}

    def push(df: DataFrame, term: str | None = None) -> None:
        stack.append(df)
        if term is not None:
            term_of[id(df)] = term

    for token in rpn:
        if token.type == TokenType.TERM:
            push(_doc_set(reader, token.value), token.value)
        elif token.type == TokenType.PHRASE:
            push(phrase_search(reader, token.value.lower().split()))
        elif token.type == TokenType.AND:
            if len(stack) < 2:
                return empty
            right, left = stack.pop(), stack.pop()
            push(left.intersect(right))
        elif token.type == TokenType.OR:
            if len(stack) < 2:
                return empty
            right, left = stack.pop(), stack.pop()
            push(left.union(right).distinct())
        elif token.type == TokenType.NOT:
            if len(stack) < 1:
                return empty
            operand = stack.pop()
            push(all_docs.join(operand, ["shard", "local_no"], "left_anti"))
        elif token.type == TokenType.NEAR:
            if len(stack) < 2:
                return empty
            try:
                distance = int(token.value.split("/")[1])
            except (IndexError, ValueError):
                distance = 5  # :322 default
            right, left = stack.pop(), stack.pop()
            lt, rt = term_of.get(id(left)), term_of.get(id(right))
            if lt is not None and rt is not None:
                push(near_search(reader, lt, rt, distance))
            else:
                # non-term operands: fall back to intersection (the
                # reference cannot resolve positions for them either)
                push(left.intersect(right))
    if len(stack) != 1:
        return empty
    result = stack[0]
    return result.distinct()


def boolean_rpn_search(reader, query: str) -> DataFrame:
    """Parse + evaluate; returns (shard, local_no) matches."""
    rpn = to_rpn(tokenize_query(query))
    if not rpn:
        return reader.spark.createDataFrame([], "shard int, local_no long")
    return evaluate_rpn(reader, rpn)
